"""Parquet table storage: create / append / upsert (MERGE) / metadata / export.

Re-expresses the reference's PostgreSQL storage layer (src/ingestion/
storage.py) on partitioned parquet:

- K1 DDL-from-schema (:73-183)  -> TableSchema-driven writes, indexes become
  partition columns (partition pruning replaces index scans, SURVEY §4)
- K2 append insert  (:185-228)  -> mode('append')
- K3 upsert/MERGE   (:230-297)  -> partition-pruned anti-join + partition
  repoint (``INSERT ... ON CONFLICT DO UPDATE`` semantics: incoming rows
  win); full rewrite only for unpartitioned tables
- K4 metadata upsert (:51-71,299-334) -> one row per dataset, held inline
  in the _dataset_metadata manifest (a manifest edit, no Spark job)
- K5 parquet export  (:336-382) -> snappy parquet (native)

At 100 TB the upsert rewrite is bounded by partition pruning: only
partitions containing incoming keys are read and rewritten (pass
``partition_by`` so the anti-join's scan prunes). An upsert evaluates its
incoming batch once: ``staged`` conforms, dedups and materializes it, and
the row count and touched partitions are observed metrics of that one
action.

Commit protocol (object-store-portable): every write lands in a fresh
SEGMENT directory that is invisible until the single ``_current``
manifest file is atomically replaced (tmp + ``os.replace`` locally; on S3
the same flip is one conditional PUT / put-if-match). No directory is
ever renamed and no published file is ever mutated, so the protocol is
safe on stores where directory rename is copy+delete, and a crash before
the flip leaves the previous commit intact (the new segment is an orphan
for ``vacuum``). Every write path publishes via the fenced manifest flip,
so the zombie window is one pointer swap wide for all of them.

A stream sink passes its micro-batch id to ``create_or_append`` or
``overwrite``: the manifest records it next to the generation, in the same
flip as the batch's rows, and a write whose id is at or below the recorded
one is a checkpoint replay and returns without writing (Delta's
``txnVersion`` idempotent-write rule).

The manifest maps each Hive partition relpath (Spark's on-disk dir names,
percent-escaping included) to the ordered list of segments contributing
rows to it, and stamps the table schema; appends add a segment to the
list, partition overwrites replace the list, full rewrites replace the
whole map. Superseded segments are swept by ``vacuum`` (under the table
lock). Reads resolve through the manifest — use ``read()``, not a bare
``spark.read.parquet`` on the table root. Readers get SNAPSHOT
ISOLATION: a DataFrame resolved before a flip keeps scanning the
immutable segments it resolved, unaffected by later commits, until
``vacuum`` reclaims them.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import socket
import threading
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from nyc_open_data_pipeline_spark.pipeline.schema import TableSchema
from nyc_open_data_pipeline_spark.session import retire_local_checkpoint


class WriterFencedError(RuntimeError):
    """A writer's table lock was taken over (stale-lock rule) before it
    reached its commit point; the commit is refused so the takeover
    winner's state can't be clobbered by a zombie."""


class LockTimeoutError(TimeoutError):
    """Could not acquire the per-table writer lock within ``lock_timeout``."""


@dataclass
class ParquetStorage:
    root: str
    # Commit protocol (round 12): writes to one table serialize on a lock
    # DIRECTORY (os.mkdir is atomic on POSIX and on object-store FUSE
    # mounts that map mkdir to an atomic PUT-if-absent). A crashed writer's
    # lock is taken over once it is older than ``lock_stale_after`` AND its
    # recorded pid is dead (pid liveness is only checkable same-host; a
    # different host falls back to age alone). Round 13: the owner LEASES
    # the lock — a daemon thread refreshes owner.json's mtime every
    # ``lock_heartbeat`` seconds while the lock is held, so "age" measures
    # heartbeat liveness, not acquisition time, and a live-but-slow
    # cross-host writer is never taken over mid-write (ADVICE r12). A dead
    # writer's heartbeat stops with its process and the age-based takeover
    # proceeds as before. ``lock_timeout`` bounds how long a second writer
    # waits before raising. The reference gets this serialization free from
    # Postgres transactions (/root/reference/src/ingestion/storage.py:230-297).
    lock_timeout: float = 60.0
    lock_stale_after: float = 300.0
    lock_heartbeat: float | None = None  # default: min(stale/3, 30s)
    _heartbeats: dict = field(default_factory=dict, repr=False, compare=False)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # ------------------------------------------------------------------
    # writer lock + lease heartbeat
    # ------------------------------------------------------------------

    def _lock_dir(self, table: str) -> str:
        return self.path(table) + "__lock"

    def _acquire_lock(self, table: str) -> str:
        """Take the per-table writer lock; returns an ownership token.
        Stale takeover: a lock whose owner file is older than
        ``lock_stale_after`` and whose pid is provably dead (same host) —
        or unreadably corrupt and old — is broken and re-contended."""
        lock = self._lock_dir(table)
        token = uuid.uuid4().hex
        os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
        deadline = time.monotonic() + self.lock_timeout
        while True:
            try:
                os.mkdir(lock)
            except FileExistsError:
                if self._lock_is_stale(lock):
                    # Break by RENAME-then-delete: only the contender whose
                    # rename succeeds removes the stale dir. A bare rmtree
                    # here could land AFTER another contender already broke
                    # the lock and re-acquired it — deleting the winner's
                    # brand-new lock and leaving two live owners (round-12
                    # review).
                    doomed = f"{lock}.breaking_{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, doomed)
                    except OSError:
                        continue  # someone else broke it first: re-contend
                    shutil.rmtree(doomed, ignore_errors=True)
                    continue
                if time.monotonic() >= deadline:
                    raise LockTimeoutError(
                        f"writer lock on {table!r} held past lock_timeout="
                        f"{self.lock_timeout}s ({lock})"
                    ) from None
                time.sleep(0.05)
                continue
            owner = {
                "token": token,
                "pid": os.getpid(),
                "host": socket.gethostname(),
                "ts": time.time(),
            }
            with open(os.path.join(lock, "owner.json"), "w") as f:
                json.dump(owner, f)
            self._start_heartbeat(table, token)
            return token

    def _start_heartbeat(self, table: str, token: str) -> None:
        """Lease heartbeat: refresh owner.json's mtime (os.utime — no
        rewrite, so concurrent _owns_lock readers never see a torn file)
        every ``lock_heartbeat`` seconds while the lock is held.

        Two robustness rules (round-13 review): the beat VERIFIES the
        owner token before each touch — a SIGSTOP-resumed zombie must not
        refresh a successor's lease (and keep a dead successor's lock
        perpetually fresh) — and a TRANSIENT utime/read failure (an NFS/
        FUSE blip on exactly the stores this lease targets) is tolerated
        up to 3 consecutive misses instead of silently killing the lease
        for the rest of a long write. The registry is keyed by token, not
        table, so a takeover can never stop the wrong lease."""
        interval = self.lock_heartbeat
        if interval is None:
            interval = min(max(self.lock_stale_after / 3.0, 0.05), 30.0)
        stop = threading.Event()
        owner = os.path.join(self._lock_dir(table), "owner.json")

        def beat() -> None:
            misses = 0
            while not stop.wait(interval):
                try:
                    with open(owner) as f:
                        if json.load(f).get("token") != token:
                            return  # lock taken over: stop beating
                    os.utime(owner)
                    misses = 0
                except (OSError, ValueError):
                    misses += 1
                    if misses >= 3:
                        return  # lock gone (released / broken): stop

        t = threading.Thread(
            target=beat, daemon=True, name=f"lock-heartbeat-{table}"
        )
        self._heartbeats[token] = stop
        t.start()

    def _stop_heartbeat(self, token: str) -> None:
        stop = self._heartbeats.pop(token, None)
        if stop is not None:
            stop.set()

    def _lock_is_stale(self, lock: str) -> bool:
        try:
            owner_path = os.path.join(lock, "owner.json")
            age = time.time() - os.stat(owner_path).st_mtime
        except OSError:
            # mkdir'd but owner.json not written yet (acquire in flight) —
            # stale only if the bare dir itself has sat for the full window.
            try:
                age = time.time() - os.stat(lock).st_mtime
            except OSError:
                return False  # vanished: re-contend
            return age > self.lock_stale_after
        if age <= self.lock_stale_after:
            return False
        try:
            with open(owner_path) as f:
                owner = json.load(f)
        except (OSError, ValueError):
            return True  # old AND unreadable: corrupt leftover
        if owner.get("host") != socket.gethostname():
            # cross-host: the heartbeat IS the liveness signal — a live
            # writer's lease thread keeps mtime fresh, so reaching this
            # line means no heartbeat for lock_stale_after (ADVICE r12:
            # before the lease, a merely-slow remote writer was always
            # taken over here)
            return True
        try:
            os.kill(int(owner["pid"]), 0)
        except (ProcessLookupError, ValueError):
            return True  # owner process is gone
        except PermissionError:
            pass  # alive under another uid
        return False  # old but owner still alive: long write, keep waiting

    def _owns_lock(self, table: str, token: str) -> bool:
        try:
            with open(os.path.join(self._lock_dir(table), "owner.json")) as f:
                return json.load(f).get("token") == token
        except (OSError, ValueError):
            return False

    def _check_fence(self, table: str, token: str) -> None:
        """Commit-point fence: a writer that lost its lock to a stale-lock
        takeover must not publish. Called after the write job completes,
        immediately before the one-syscall manifest flip."""
        if not self._owns_lock(table, token):
            raise WriterFencedError(
                f"lock on {table!r} was taken over mid-write; aborting commit"
            )

    def _release_lock(self, table: str, token: str) -> None:
        self._stop_heartbeat(token)
        if self._owns_lock(table, token):
            shutil.rmtree(self._lock_dir(table), ignore_errors=True)

    @contextlib.contextmanager
    def _locked(self, table: str):
        token = self._acquire_lock(table)
        try:
            yield token
        finally:
            self._release_lock(table, token)

    MANIFEST = "_current"
    HISTORY_PREFIX = "_gen_"

    def generation(self, table: str) -> int:
        """Monotonic commit counter for a table (0 = never committed),
        carried by the manifest."""
        m = self._read_manifest(table)
        return int(m["gen"]) if m else 0

    @staticmethod
    def _evolved_schema_json(prev: str | None, new_schema: StructType) -> str:
        """Schema to stamp after a PARTIAL write (append / partition
        replace): the previous manifest's stamped fields, with the new
        write's fields merged in by name — a re-declared field takes its
        NEW type (latest declaration wins, the K1 contract), unseen fields
        append. Old segments missing a later column read as NULL under the
        stamped schema."""
        if not prev:
            return new_schema.json()
        merged = {f.name: f for f in StructType.fromJson(json.loads(prev)).fields}
        for f in new_schema.fields:
            merged[f.name] = f
        return StructType(
            [StructField(n, f.dataType, True) for n, f in merged.items()]
        ).json()

    def exists(self, table: str) -> bool:
        m = self._read_manifest(table)
        return bool(m and m.get("parts"))

    def committed_batch(self, table: str) -> int:
        """The last stream micro-batch id published into the table; -1 when
        no write carried one."""
        return int((self._read_manifest(table) or {}).get("batch", -1))

    @staticmethod
    def _replayed(m: dict | None, batch_id: int | None) -> bool:
        return batch_id is not None and batch_id <= int((m or {}).get("batch", -1))

    # ------------------------------------------------------------------
    # manifest: read / resolve / flip
    # ------------------------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.path(table), self.MANIFEST)

    def _read_manifest(self, table: str) -> dict | None:
        """None ONLY when the manifest file does not exist. An existing
        but unreadable/unparseable ``_current`` raises instead of reading
        as absent: treating corruption as 'never committed' would let the
        next create_or_append start a fresh gen-1 manifest that orphans
        every committed segment — which the next vacuum would then DELETE
        (round-13 review)."""
        path = self._manifest_path(table)
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except (OSError, ValueError) as e:
            raise RuntimeError(
                f"manifest {path!r} exists but is unreadable "
                f"({e}); refusing to treat the table as uncommitted — "
                "restore the manifest (or remove it together with the "
                "segment dirs to truly reset the table)"
            ) from e

    def _history_path(self, table: str, gen: int) -> str:
        return os.path.join(self.path(table), f"{self.HISTORY_PREFIX}{gen:08d}.json")

    def _flip_manifest(self, table: str, manifest: dict, token: str) -> None:
        """Publish: atomically replace the single ``_current`` pointer
        file. Locally tmp + os.replace; on S3 the identical flip is one
        conditional PUT (put-if-match on the previous ETag) — the only
        operation in the whole pointer protocol that needs atomicity.

        TIME TRAVEL: before the flip, the same manifest is persisted as an
        immutable ``_gen_NNNNNNNN.json`` history file. Segments are
        immutable until vacuum, so any retained generation resolves to a
        consistent snapshot (``read(as_of=...)``); a crash between the
        history write and the flip leaves an orphan history file above the
        current generation, which readers refuse (never-committed state)
        and vacuum removes."""
        os.makedirs(self.path(table), exist_ok=True)
        hist = self._history_path(table, int(manifest["gen"]))
        htmp = f"{hist}.tmp_{uuid.uuid4().hex[:8]}"
        with open(htmp, "w") as f:
            json.dump(manifest, f)
        os.replace(htmp, hist)
        dest = self._manifest_path(table)
        tmp = f"{dest}.tmp_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        self._check_fence(table, token)
        os.replace(tmp, dest)

    def history(self, table: str) -> list[int]:
        """Retained generations of a table, oldest first — each readable
        via ``read(as_of=gen)`` until ``vacuum`` prunes it past its
        retention. Orphans above the current generation (crash between
        history write and flip) are excluded."""
        root = self.path(table)
        m = self._read_manifest(table)
        cur = int(m["gen"]) if m else 0
        out = []
        if os.path.isdir(root):
            for e in os.listdir(root):
                if e.startswith(self.HISTORY_PREFIX) and e.endswith(".json") and ".tmp_" not in e:
                    with contextlib.suppress(ValueError):
                        g = int(e[len(self.HISTORY_PREFIX) : -5])
                        if g <= cur:
                            out.append(g)
        return sorted(out)

    def rollback(self, table: str, to_gen: int) -> int:
        """Restore a table to a retained earlier generation — published as
        a NEW generation whose manifest reuses the old one's
        partition->segment map (no data is copied or rewritten; the old
        segments are still on disk because vacuum retention kept their
        manifest). Everything else the old manifest held comes back with
        it: inline metadata rows and the stream batch token. Returns the
        new generation number."""
        with self._locked(table) as token:
            cur = self._read_manifest(table)
            if not cur:
                raise FileNotFoundError(f"table {table!r} has no manifest")
            if to_gen >= int(cur["gen"]):
                raise ValueError(
                    f"rollback target gen {to_gen} is not below current {cur['gen']}"
                )
            try:
                with open(self._history_path(table, to_gen)) as f:
                    old = json.load(f)
            except FileNotFoundError:
                raise ValueError(
                    f"generation {to_gen} of {table!r} is not retained "
                    "(vacuumed, or never existed) — see history()"
                ) from None
            m = {**old, "gen": cur["gen"], "restored_from": to_gen}
            self._publish(table, m, token, old.get("schema"))
            return m["gen"]

    def _write_segment(
        self, df: DataFrame, schema: TableSchema
    ) -> tuple[str, list[str]]:
        """Write ``df`` into a fresh segment dir under the table root.
        Invisible until a manifest references it. Returns (segment name,
        Hive partition relpaths present in the segment) — [""] for an
        unpartitioned segment that holds rows."""
        seg = f"seg_{uuid.uuid4().hex[:12]}"
        segdir = os.path.join(self.path(schema.table_name), seg)
        parts = [c for c in schema.partition_by if c in df.columns]
        writer = df.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(segdir)
        return seg, self._segment_relpaths(segdir, len(parts))

    @staticmethod
    def _segment_relpaths(segdir: str, n_levels: int) -> list[str]:
        if n_levels == 0:
            # Spark writes one zero-row part file for an empty frame; a
            # segment of those must not cost every later read a scan
            has_rows = any(
                pq.ParquetFile(os.path.join(segdir, f)).metadata.num_rows
                for f in os.listdir(segdir)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            return [""] if has_rows else []
        out: list[str] = []

        def walk(d: str, depth: int, rel: str) -> None:
            for e in os.listdir(d):
                full = os.path.join(d, e)
                if not (os.path.isdir(full) and "=" in e):
                    continue
                nrel = os.path.join(rel, e) if rel else e
                if depth + 1 == n_levels:
                    out.append(nrel)
                else:
                    walk(full, depth + 1, nrel)

        walk(segdir, 0, "")
        return sorted(out)

    def read(
        self, spark: SparkSession, table: str, as_of: int | None = None
    ) -> DataFrame:
        """Resolve the table to a DataFrame: the union of the manifest's
        live (segment, partition) slices, each read under the schema the
        manifest STAMPED — deterministic under schema evolution (with
        footer inference, which file's schema wins depends on listing
        order of UUID-named part files), old segments' missing columns
        read as NULL, and no schema-inference Spark job runs per read.
        Per-segment ``basePath`` keeps the Hive partition columns.
        Manifests written before schema stamping fall back to footer
        inference. ``as_of=<generation>`` TIME-TRAVELS to a retained
        generation's snapshot — valid until vacuum retention prunes it;
        generations above the current one are refused (a crash orphan is
        never-committed state). A manifest holding its rows inline (the
        metadata table) is read from those rows."""
        m = self._read_manifest(table)
        if not m:
            raise FileNotFoundError(f"table {table!r} has no committed manifest")
        if as_of is not None:
            if as_of > int(m["gen"]):
                raise ValueError(
                    f"as_of generation {as_of} is above the current "
                    f"committed generation {m['gen']} of {table!r}"
                )
            if as_of != int(m["gen"]):
                try:
                    with open(self._history_path(table, as_of)) as f:
                        m = json.load(f)
                except FileNotFoundError:
                    raise ValueError(
                        f"generation {as_of} of {table!r} is not retained "
                        "(vacuumed, or never existed) — see history()"
                    ) from None
        if "rows" in m:  # a small table held inline in its manifest (K4)
            return spark.createDataFrame(
                m["rows"], StructType.fromJson(json.loads(m["schema"]))
            )
        if not m.get("parts"):
            # legitimately committed but EMPTY (every partition deleted or
            # purged): readers get a typed empty frame from the schema the
            # last write stamped, instead of a crash after a successful
            # commit (round-13 review)
            sj = m.get("schema")
            if sj:
                return spark.createDataFrame([], StructType.fromJson(json.loads(sj)))
            raise FileNotFoundError(
                f"table {table!r} is empty and predates schema stamping; no "
                "row source to type an empty frame from"
            )
        return self._scan(spark, table, m["parts"], m.get("schema"))

    def _scan(
        self, spark: SparkSession, table: str, parts: dict, schema_json: str | None
    ) -> DataFrame:
        """Union the (segment, partition) slices of a manifest ``parts``
        map, one scan per segment, under ``schema_json`` when given."""
        schema = StructType.fromJson(json.loads(schema_json)) if schema_json else None
        root = self.path(table)
        by_seg: dict[str, list[str]] = {}
        for rp, segs in parts.items():
            for seg in segs:
                by_seg.setdefault(seg, []).append(rp)
        out: DataFrame | None = None
        for seg in sorted(by_seg):
            segroot = os.path.join(root, seg)
            rps = by_seg[seg]
            reader = spark.read if schema is None else spark.read.schema(schema)
            if rps == [""]:
                part = reader.parquet(segroot)
            else:
                part = reader.option("basePath", segroot).parquet(
                    *[os.path.join(segroot, rp) for rp in sorted(rps)]
                )
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        assert out is not None
        return out

    @staticmethod
    def _unescape_hive(s: str) -> str:
        """Undo Hive percent-escaping in a partition dir value (%XX -> the
        ASCII char). Unescaping is unambiguous whatever subset of chars
        the writer escaped, so matching on unescaped text is exact."""
        return re.sub(
            r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s
        )

    @classmethod
    def _rp_values(cls, rp: str) -> dict[str, str]:
        """Column -> unescaped partition value of a Hive relpath."""
        return {
            name: cls._unescape_hive(raw)
            for name, _, raw in (s.partition("=") for s in rp.split(os.sep))
        }

    @staticmethod
    def _touched_partitions(rows: list, parts: list[str]):
        """The partitions a batch touches, from its ``_partition_set`` rows
        (one per partition — tiny, like the reference's batch bookkeeping):
        a predicate over the typed values that prunes a
        table scan to those partitions, and the set of their Hive dir-name
        value tuples. None and '' fold to the default-partition token, as
        Spark folds both."""
        pred = None
        for row in rows:
            clause = None
            for p in parts:
                c = F.col(p).eqNullSafe(F.lit(row[p]))
                clause = c if clause is None else clause & c
            pred = clause if pred is None else pred | clause
        vals = {
            tuple(row[f"__text_{p}"] or "__HIVE_DEFAULT_PARTITION__" for p in parts)
            for row in rows
        }
        return pred, vals

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    def _publish(
        self,
        table: str,
        m: dict,
        token: str,
        schema_json: str | None,
        batch_id: int | None = None,
    ) -> None:
        """Bump the manifest's generation, stamp writer, schema and the
        stream batch token when given, flip."""
        m["gen"] = int(m["gen"]) + 1
        m["writer"] = token
        m["schema"] = schema_json
        if batch_id is not None:
            m["batch"] = batch_id
        self._flip_manifest(table, m, token)

    def create_or_append(
        self, df: DataFrame, schema: TableSchema, batch_id: int | None = None
    ) -> bool:
        """K2: append (creates on first write). Casts to the declared schema
        first — the declared-schema contract of K1. Serialized per table by
        the writer lock (two appends never interleave their commits). The
        rows land in an invisible segment and publish via the fenced
        manifest flip, so a stale-lock takeover during the possibly-long
        write job can never double-publish (ADVICE r12 #2). A stream
        micro-batch passes its ``batch_id``; returns False, writing nothing,
        when the table already holds that batch."""
        out = conform(df, schema)
        table = schema.table_name
        with self._locked(table) as token:
            m = self._read_manifest(table) or {"gen": 0, "parts": {}}
            if self._replayed(m, batch_id):
                return False
            seg, rps = self._write_segment(out, schema)
            for rp in rps:
                m["parts"].setdefault(rp, []).append(seg)
            self._publish(
                table,
                m,
                token,
                self._evolved_schema_json(m.get("schema"), out.schema),
                batch_id,
            )
        return True

    def overwrite(
        self, df: DataFrame, schema: TableSchema, batch_id: int | None = None
    ) -> bool:
        """Replace the whole table with ``df`` in one flip: the commit for a
        stream sink that publishes a whole new state per micro-batch.
        ``batch_id`` as in ``create_or_append``."""
        table = schema.table_name
        with self._locked(table) as token:
            if self._replayed(self._read_manifest(table), batch_id):
                return False
            self._full_rewrite(conform(df, schema), schema, token, batch_id)
        return True

    def upsert(
        self, spark: SparkSession, df: DataFrame | StagedBatch, schema: TableSchema
    ) -> int:
        """K3 MERGE: keep existing rows whose keys don't collide (anti-join),
        union the incoming batch (incoming wins — ``DO UPDATE SET ... =
        excluded.*``). Falls back to append when no unique_keys configured
        (reference ingest_data.py:136-150).

        Partitioned tables take the pruned path: only partitions containing
        incoming rows are read, merged, written to a new segment and
        repointed — a 1-row upsert into a 100 TB table touches one
        partition, not the table. Contract: partition values must be stable
        per unique key (a key may not move between partitions), the same
        contract Hive-style dynamic-overwrite MERGEs carry; the reference's
        Postgres ON CONFLICT has no partitions so the question doesn't
        arise there. Unpartitioned tables fall back to the full anti-join +
        rewrite.

        The batch is evaluated once: a frame is ``staged`` here, outside
        the writer lock; a caller that needs the staging job's counts first
        (the ingest path's empty guard and validation) passes the
        ``StagedBatch`` itself.

        Idempotent: re-upserting the same batch is a no-op by construction.
        Concurrent-writer safe (round 12): the read-merge-publish runs under
        the per-table writer lock, so two simultaneous upserts serialize —
        the second reads the first's committed state instead of racing the
        publish; a writer that loses its lock to a stale-lock takeover is
        fenced at the commit point. Returns the resulting row count.
        """
        if not isinstance(df, StagedBatch):
            with staged(df, schema) as batch:
                return self.upsert(spark, batch, schema)
        keys = schema.unique_keys
        incoming = df.frame
        table = schema.table_name
        with self._locked(table) as token:
            if not keys or not self.exists(table):
                self._full_rewrite(incoming, schema, token)
            elif df.parts:
                pred, touched_vals = self._touched_partitions(df.partition_rows, df.parts)
                existing = self.read(spark, table)
                pruned = existing.filter(pred) if pred is not None else existing.limit(0)
                survivors = pruned.join(incoming.select(*keys), on=keys, how="left_anti")
                merged = survivors.unionByName(incoming, allowMissingColumns=True)
                self._replace_partitions(merged, schema, df.parts, touched_vals, token)
            else:
                existing = self.read(spark, table)
                survivors = existing.join(incoming.select(*keys), on=keys, how="left_anti")
                merged = survivors.unionByName(incoming, allowMissingColumns=True)
                self._full_rewrite(merged, schema, token)
            return self._count(spark, table)

    def _full_rewrite(
        self,
        df: DataFrame,
        schema: TableSchema,
        token: str,
        batch_id: int | None = None,
    ) -> None:
        """Replace the whole table: one new segment owns every partition,
        and the frame's own schema is the table's. The stream batch token
        carries over unless ``batch_id`` advances it."""
        seg, rps = self._write_segment(df, schema)
        prev = self._read_manifest(schema.table_name) or {"gen": 0}
        m = {k: prev[k] for k in ("gen", "batch") if k in prev}
        m["parts"] = {rp: [seg] for rp in rps}
        self._publish(schema.table_name, m, token, df.schema.json(), batch_id)

    def _replace_partitions(
        self,
        merged: DataFrame,
        schema: TableSchema,
        parts: list[str],
        touched_vals: set[tuple[str, ...]],
        token: str,
    ) -> None:
        """Publish a merged slice over exactly the touched partitions (their
        dir-name value tuples over ``parts``, from ``_touched_partitions``):
        the slice lands in a new segment and the touched partitions'
        manifest entries are replaced in one flip. Manifest entries are
        matched by UNESCAPED value tuple over ``parts``, so values Spark
        percent-escapes in dir names (``a:b`` -> ``a%3Ab``) repoint
        exactly, and a key batch carrying only some partition columns
        replaces every partition under the values it names; a touched
        partition absent from the new slice (a delete emptied it) drops
        out of the manifest."""
        table = schema.table_name
        seg, rps = self._write_segment(merged, schema)
        m = self._read_manifest(table) or {"gen": 0, "parts": {}}
        m["parts"] = {
            rp: segs
            for rp, segs in m["parts"].items()
            if tuple(self._rp_values(rp)[p] for p in parts) not in touched_vals
        }
        for rp in rps:
            m["parts"][rp] = [seg]
        self._publish(
            table, m, token, self._evolved_schema_json(m.get("schema"), merged.schema)
        )

    def delete_keys(self, spark: SparkSession, keys_df: DataFrame, schema: TableSchema) -> int:
        """Targeted delete (right-to-erasure / correction retractions): remove
        every stored row whose unique key appears in ``keys_df`` — the inverse
        of ``upsert``, sharing its scale contract. If the key batch carries
        the table's partition columns, only the touched partitions are read,
        anti-joined, and replaced (a delete of one user from a 100 TB table
        touches that user's partitions, not the table); otherwise the full
        anti-join + rewrite runs. Returns the resulting row count.
        Idempotent: re-deleting the same keys is a no-op."""
        keys = schema.unique_keys
        if not keys:
            raise ValueError("delete_keys requires unique_keys on the schema")
        if not self.exists(schema.table_name):
            return 0
        keys_df = conform(keys_df, schema)
        wanted = keys_df.select(
            *[c for c in keys_df.columns if c in set(keys) | set(schema.partition_by)]
        ).distinct()
        parts = [c for c in schema.partition_by if c in wanted.columns]
        with self._locked(schema.table_name) as token:
            if parts:
                touched = wanted.agg(_partition_set(parts)).first()[0]
                pred, touched_vals = self._touched_partitions(touched, parts)
                existing = self.read(spark, schema.table_name)
                pruned = existing.filter(pred) if pred is not None else existing.limit(0)
                survivors = pruned.join(wanted.select(*keys), on=keys, how="left_anti")
                self._replace_partitions(survivors, schema, parts, touched_vals, token)
            else:
                existing = self.read(spark, schema.table_name)
                survivors = existing.join(wanted.select(*keys), on=keys, how="left_anti")
                self._full_rewrite(survivors, schema, token)
            return self._count(spark, schema.table_name)

    def vacuum(self, table: str, retain_generations: int = 0) -> list[str]:
        """Remove what no retained generation references: prune history
        manifests outside the retention window (``retain_generations``
        prior generations stay time-travelable; orphans above the current
        generation always go), then sweep segment dirs referenced by NO
        remaining manifest — superseded by a later commit, or written by a
        writer that crashed or was fenced before its flip — and stale
        manifest tmps. Taken under the table lock so an in-flight writer's
        not-yet-published segment is never swept. The default
        ``retain_generations=0`` keeps only the current snapshot (time
        travel is bounded by vacuum retention, as in any lakehouse
        format). Listing-only, no data read; returns the removed paths."""
        removed: list[str] = []
        root = self.path(table)
        if not os.path.exists(root):
            return removed
        with self._locked(table):
            m = self._read_manifest(table)
            cur = int(m["gen"]) if m else 0
            floor = cur - max(0, retain_generations)
            live = {
                seg
                for segs in ((m or {}).get("parts") or {}).values()
                for seg in segs
            }
            for e in sorted(os.listdir(root)):
                if not (
                    e.startswith(self.HISTORY_PREFIX) and e.endswith(".json")
                ) or ".tmp_" in e:
                    continue
                full = os.path.join(root, e)
                try:
                    g = int(e[len(self.HISTORY_PREFIX) : -5])
                except ValueError:
                    continue
                if g > cur or g < floor:
                    # above current = crash orphan; below floor = out
                    # of retention
                    with contextlib.suppress(OSError):
                        os.remove(full)
                    removed.append(full)
                elif g != cur:
                    # retained: its segments stay live for time travel
                    with contextlib.suppress(OSError, ValueError):
                        with open(full) as f:
                            hm = json.load(f)
                        live |= {
                            seg
                            for segs in (hm.get("parts") or {}).values()
                            for seg in segs
                        }
            for e in os.listdir(root):
                full = os.path.join(root, e)
                if e.startswith("seg_") and os.path.isdir(full) and e not in live:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(full)
                elif e.startswith(f"{self.MANIFEST}.tmp_") or (
                    e.startswith(self.HISTORY_PREFIX) and ".tmp_" in e
                ):
                    with contextlib.suppress(OSError):
                        os.remove(full)
                    removed.append(full)
        return removed

    def purge_partitions(self, schema: TableSchema, keep) -> list[dict]:
        """Retention purge: drop whole Hive-style partitions whose values
        fail the ``keep`` predicate (a callable over the partition-value
        dict of unescaped dir-name text, e.g. ``lambda v: int(v["year"])
        >= 2020``). Metadata-only at any scale — the manifest is edited
        (the data files become vacuum-able orphans); no data file is ever
        read. Returns the dropped partition-value dicts. This is the
        parquet-layout form of ``ALTER TABLE ... DROP PARTITION``; with a
        transactional format the same predicate drives a metadata
        delete."""
        if not schema.partition_by:
            raise ValueError("purge_partitions requires a partitioned schema")
        dropped: list[dict] = []
        with self._locked(schema.table_name) as token:
            m = self._read_manifest(schema.table_name)
            if not m:
                return dropped
            keep_parts: dict[str, list[str]] = {}
            for rp, segs in m["parts"].items():
                values = self._rp_values(rp)
                if keep(values):
                    keep_parts[rp] = segs
                else:
                    dropped.append(values)
            if dropped:
                m["parts"] = keep_parts
                self._publish(schema.table_name, m, token, m.get("schema"))
        return dropped

    def diff_generations(
        self,
        spark: SparkSession,
        table: str,
        from_gen: int,
        to_gen: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change feed between two retained generations (the storage-level
        form of the engine's ``j9_snapshot_diff`` query, or Delta's CDF):
        rows of the ``to`` snapshot (default: current) annotated
        ``insert``/``update_post``, plus rows of the ``from`` snapshot
        that vanished as ``delete``, in a ``_change_type`` column. With
        ``keys`` (the table's unique keys) an in-place change reads as
        one ``update_post`` row; without keys it pairs as delete +
        insert (exceptAll multiset semantics). One full-outer join of two
        snapshot reads — partition-parallel at any scale, no driver-side
        row handling; presence is detected via literal marker columns
        (NULL-proof) and change via null-safe per-column comparison."""
        old = self.read(spark, table, as_of=from_gen)
        new = self.read(spark, table, as_of=to_gen)
        if not keys:
            ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
            dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
            return ins.unionByName(dels)
        nonkey_old = [c for c in old.columns if c not in keys]
        nonkey_new = [c for c in new.columns if c not in keys]
        o = old.select(
            *keys,
            *[F.col(c).alias(f"__old_{c}") for c in nonkey_old],
            F.lit(True).alias("__old_present"),
        )
        n = new.select(
            *keys,
            *[F.col(c).alias(f"__new_{c}") for c in nonkey_new],
            F.lit(True).alias("__new_present"),
        )
        j = o.join(n, on=keys, how="full_outer")
        shared = [c for c in nonkey_old if c in set(nonkey_new)]
        same = F.lit(True)
        for c in shared:
            same = same & F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
        if set(nonkey_old) != set(nonkey_new):
            same = F.lit(False)  # schema changed between the snapshots
        def out(c):
            if c in keys:
                return F.col(c)
            if c in set(nonkey_old):  # delete rows carry their last values
                return F.coalesce(F.col(f"__new_{c}"), F.col(f"__old_{c}")).alias(c)
            return F.col(f"__new_{c}").alias(c)  # column newer than from_gen

        out_cols = [out(c) for c in new.columns]
        return (
            j.withColumn(
                "_change_type",
                F.when(F.col("__old_present").isNull(), F.lit("insert"))
                .when(F.col("__new_present").isNull(), F.lit("delete"))
                .when(~same, F.lit("update_post"))
                .otherwise(F.lit("unchanged")),
            )
            .filter(F.col("_change_type") != "unchanged")
            .select(*out_cols, "_change_type")
        )

    def compact_segments(
        self,
        spark: SparkSession,
        schema: TableSchema,
        max_segments: int = 4,
    ) -> dict[str, int]:
        """Maintenance: every append adds one segment to each partition it
        touches, so a long-lived append-mostly table's manifest lists — and
        its readers' scan branches — grow without bound (a stream sink adds
        one segment per micro-batch; its ``compact_after`` drains call
        this). Fold every partition whose contributing-segment
        list exceeds ``max_segments`` into one fresh segment and repoint,
        in a single manifest flip; untouched partitions keep their pointers
        and their bytes. The fold is a rebalance on the partition columns,
        so AQE sizes its files by bytes (one per small partition) instead
        of keeping one per folded write. The superseded segments stay on
        disk (still safe for in-flight readers of the old manifest) until
        ``vacuum``. Returns {partition relpath: segments folded}; no-op
        below the threshold."""
        with self._locked(schema.table_name) as token:
            m = self._read_manifest(schema.table_name)
            if not m:
                return {}
            targets = {
                rp: segs
                for rp, segs in m["parts"].items()
                if len(segs) > max_segments
            }
            if not targets:
                return {}
            merged = self._scan(spark, schema.table_name, targets, m.get("schema"))
            parts = [c for c in schema.partition_by if c in merged.columns]
            new_seg, new_rps = self._write_segment(
                merged.hint("rebalance", *parts), schema
            )
            present = set(new_rps)
            for rp in targets:
                if rp in present:
                    m["parts"][rp] = [new_seg]
                else:  # a targeted partition held only empty files
                    m["parts"].pop(rp, None)
            self._publish(schema.table_name, m, token, m.get("schema"))
            return {rp: len(segs) for rp, segs in targets.items()}

    def _live_data_files(self, table: str) -> list[str]:
        """Every parquet file the table's committed state references: only
        files inside the (segment, partition) dirs the current manifest
        points at — superseded segments awaiting vacuum are excluded."""
        files: list[str] = []
        root = self.path(table)
        m = self._read_manifest(table) or {}
        for rp, segs in (m.get("parts") or {}).items():
            for seg in segs:
                d = os.path.join(root, seg, rp) if rp else os.path.join(root, seg)
                with contextlib.suppress(OSError):
                    files.extend(
                        os.path.join(d, f)
                        for f in os.listdir(d)
                        if f.endswith(".parquet") and not f.startswith(("_", "."))
                    )
        return files

    def _count(self, spark: SparkSession, table: str) -> int:
        """Row count after a commit — from parquet FOOTER metadata of the
        live data files (driver-side, exact, no Spark job, no data read):
        at 100 TB the per-write count this backs would otherwise be a
        full-table scan. A table whose every row was just deleted has an
        empty manifest — ``exists`` resolves that to 0. Unreadable footers
        fall back to the scan (which would surface the same corruption
        loudly)."""
        if not self.exists(table):
            return 0
        try:
            return sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in self._live_data_files(table)
            )
        except Exception:
            return self.read(spark, table).count()

    # ------------------------------------------------------------------
    # K4: dataset metadata
    # ------------------------------------------------------------------

    META_TABLE = "_dataset_metadata"
    META_SCHEMA = StructType([
        StructField("dataset_id", StringType()),
        StructField("table_name", StringType()),
        StructField("last_ingestion", StringType()),
        StructField("record_count", LongType()),
        StructField("status", StringType()),
    ])

    def update_metadata(
        self,
        spark: SparkSession,
        dataset_id: str,
        table_name: str,
        record_count: int,
        status: str = "success",
        last_ingestion: str | None = None,
    ) -> None:
        """Replace ``dataset_id``'s row. The rows live inline in the table's
        own manifest, so this is a locked manifest edit and publish with no
        Spark job. Rows an earlier layout kept in a segment carry over."""
        with self._locked(self.META_TABLE) as token:
            m = self._read_manifest(self.META_TABLE) or {"gen": 0}
            rows = m.get("rows", [])
            if m.get("parts"):
                old = self.read(spark, self.META_TABLE).select(*self.META_SCHEMA.names)
                rows = [list(r) for r in old.collect()]
            rows = [r for r in rows if r[0] != dataset_id]
            rows.append([dataset_id, table_name, last_ingestion, record_count, status])
            m = {"gen": m["gen"], "parts": {}, "rows": rows}
            self._publish(self.META_TABLE, m, token, self.META_SCHEMA.json())

    def read_metadata(self, spark: SparkSession) -> DataFrame:
        return self.read(spark, self.META_TABLE)


def table_at(path: str) -> tuple[ParquetStorage, str]:
    """The table whose directory is ``path``: a storage rooted at its parent
    dir, and its name."""
    root, name = os.path.split(os.path.abspath(path))
    return ParquetStorage(root), name


@dataclass
class StagedBatch:
    """An incoming batch after ``staged``: the materialized frame and what
    its one job observed."""

    frame: DataFrame
    rows: int
    parts: list[str]  # the schema's partition columns present in the frame
    partition_rows: list  # its ``_partition_set`` rows; [] when unpartitioned


@contextlib.contextmanager
def staged(df: DataFrame, schema: TableSchema):
    """Conform ``df`` to ``schema``, keep one row per unique key
    (``dedup_first``) and materialize the result with an eager local
    checkpoint: the batch's one evaluation, which every later use of it
    (partition pruning, the anti-join, the segment write) reads instead of
    re-running its lineage. The row count and the touched partitions are
    observed metrics of that action, as are any observations already
    attached to ``df``. The checkpoint's blocks are freed when the block
    exits."""
    out = conform(df, schema)
    if schema.unique_keys:
        out = dedup_first(out, schema.unique_keys)
    parts = [c for c in schema.partition_by if c in out.columns]
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    if parts:
        aggs.append(_partition_set(parts).alias("parts"))
    frame = out.observe(obs, *aggs).localCheckpoint(eager=True)
    try:
        got = obs.get
        yield StagedBatch(frame, got["rows"], parts, got.get("parts") or [])
    finally:
        retire_local_checkpoint(frame)


def _partition_set(parts: list[str]):
    """Aggregate of the distinct partition-value rows of a frame: the typed
    values and Spark's own string cast of each. That cast, run in the
    session (and time zone) that writes the partition dirs, is the dir
    text, so it matches where Python's ``str`` does not (``1.0E20`` vs
    ``1e+20``, ``...00.123`` vs ``...00.123000``)."""
    texts = [F.col(p).cast("string").alias(f"__text_{p}") for p in parts]
    return F.collect_set(F.struct(*parts, *texts))


def dedup_first(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic per-key dedup of an incoming batch: keep the row that is
    minimal under all-non-key-column ordering (struct comparison is
    lexicographic by field position). Unlike ``dropDuplicates``, the survivor
    does not depend on partitioning or scheduling — re-running the same batch
    always keeps the same row."""
    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.dropDuplicates(keys)
    packed = df.groupBy(*keys).agg(F.min(F.struct(*others)).alias("__row"))
    return packed.select(
        *[F.col(f"__row.{c}").alias(c) if c in others else F.col(c) for c in df.columns]
    )


def conform(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Project + cast to the declared schema where columns are declared;
    keeps undeclared passthrough columns (metadata cols) at the end."""
    if not schema.columns:
        return df
    declared = []
    for c in schema.columns:
        if c.name in df.columns:
            declared.append(F.col(c.name).cast(c.spark_type).alias(c.name))
    extras = [c for c in df.columns if c not in {s.name for s in schema.columns}]
    return df.select(*declared, *extras)
