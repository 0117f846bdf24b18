"""Write path: Produce / Publish (SURVEY §2.1 S5/S6) on an engine-owned
events table.

Reference semantics being reproduced (Go impl:
/root/reference/pkg/storage/pebblekit/store.go:205-304):

* per-(space, segment) strict ordering: sequences are 1-based, contiguous,
  unique (invariants I1/I2); the first record of a produce must be
  ``last_sequence + 1`` or the produce fails with SequenceMismatchError;
* records are committed in chunks of ≤ 10,000 (PRODUCE_CHUNK_SIZE); every
  chunk gets ONE commit timestamp and ONE TRX (uuid, node, number), with
  trx_number strictly increasing per segment (invariant I3);
* a produce returns the resulting SegmentStatus per chunk.

Spark-first design: the store is a partitioned Parquet (or Delta, when
available) table; appends are atomic at file granularity.  Single-winner
semantics for same-segment writers come from three layers: (1) in-process
per-segment mutex (the reference's lock map), (2) cross-process per-segment
flock held for the peek→append window, (3) a post-append tail verification
that detects any write that slipped past both (stale status after a crash,
lock-bypassing foreign writer), rolls back exactly the file this produce
renamed in, repairs the status row, and raises SequenceMismatchError — the
reference's error-not-lock contract for racers (docs/limitations.md:57-60).
A produce is the client's batch, already in driver memory: it is validated
and stamped on the driver and committed as ONE pyarrow-written parquet file;
the tail verification is its one Spark job.  Bulk DataFrame loads go
through ``streaming/ingest.ingest_batch`` (one produce per segment group).
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import urllib.parse
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamkit_spark.errors import SequenceMismatchError, ValidationError
from streamkit_spark.schema import (
    EVENTS_SCHEMA,
    PRODUCE_CHUNK_SIZE,
    SEGMENT_STATUS_SCHEMA,
)

try:  # POSIX file locks for cross-process writer coordination
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None


@contextlib.contextmanager
def _flock(path: str, exclusive: bool):
    """Advisory cross-process lock (fcntl.flock).  Producers take the store
    lock SHARED (they may run concurrently across segments) and their
    segment lock EXCLUSIVE; compact takes the store lock EXCLUSIVE, which
    quiesces every producer for the swap.  flock is per open-file-
    description, so two threads of one process also exclude each other."""
    if fcntl is None:  # pragma: no cover
        yield
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _parquet_paths(root: str) -> list[str]:
    """Every .parquet file under ``root`` (absolute paths) — the ONE
    file-selection rule, shared by compact and file_stats."""
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


def _part_dir(space: str, segment: str) -> str:
    """Spark-compatible partition directory for one (space, segment):
    values %-escaped exactly as Spark unescapes them on read."""
    q = lambda v: urllib.parse.quote(str(v), safe="")
    return f"space={q(space)}/segment={q(segment)}"

# one produce's parquet file: zstd like the session's Spark writer; dictionary
# encoding only for the envelope columns repeated on every row; min/max stats
# only where a filter can prune (payload stats would bloat small files); no
# ARROW:schema footer blob — readers take EVENTS_SCHEMA
_WRITE_OPTIONS = dict(
    compression="zstd",
    use_dictionary=["store_id", "segment", "trx_id", "trx_node"],
    write_statistics=[
        "store_id", "segment", "sequence", "ts", "trx_id", "trx_node", "trx_number"
    ],
    store_schema=False,
)


def _status_aggs() -> list:
    """A segment's status fields recomputed from its events, in
    ``_write_status_row`` argument order — the one recompute rule of
    :meth:`Store._repair_status` and :meth:`Store.recover`."""
    seq = F.col("sequence")
    return [
        F.min(seq).alias("fs"),
        F.min_by("ts", seq).alias("fts"),
        F.max(seq).alias("ls"),
        F.max_by("ts", seq).alias("lts"),
        F.max("trx_number").alias("lt"),
    ]


class Store:
    """One streamkit store = one events-table root (tenancy boundary —
    reference: one Pebble dir / Azure prefix per store UUID,
    pkg/storage/interface.go:19-22).

    Layout: ``{root}/events`` partitioned by ``space`` — partition pruning
    makes every space-scoped read touch only its directory; within files,
    rows are sorted by (segment, sequence) at write time so min/max parquet
    stats prune segment scans (the columnar replacement for the reference's
    dual key order, SURVEY §1.3/§4).
    """

    def __init__(self, spark: SparkSession, root: str, store_id: str | None = None):
        self.spark = spark
        self.root = root
        self.store_id = store_id or str(uuid.uuid4())
        self.events_path = os.path.join(root, "events")
        self.status_path = os.path.join(root, "segment_status")
        self._locks_dir = os.path.join(root, ".locks")
        self._node_id = str(uuid.uuid4())
        # per-segment write locks (reference: bounded lock map,
        # pebblekit/store.go:25,57-90): same-segment produces serialize
        # in-process, different segments run fully parallel.  Cross-process
        # same-segment writers are excluded by a per-segment flock (see
        # _produce), and any writer that bypasses the lock protocol is
        # caught by the post-append verification (rollback + error).
        self._seg_locks: dict[tuple[str, str], threading.Lock] = {}
        self._seg_locks_guard = threading.Lock()

    def _segment_lock(self, space: str, segment: str):
        with self._seg_locks_guard:
            return self._seg_locks.setdefault((space, str(segment)), threading.Lock())

    def _seg_flock_path(self, space: str, segment: str) -> str:
        key = urllib.parse.quote(f"{space}__{segment}", safe="")
        return os.path.join(self._locks_dir, f"seg-{key}.lock")

    @property
    def _store_lock_path(self) -> str:
        return os.path.join(self._locks_dir, "store.lock")

    # ------------------------------------------------------------- read

    def events(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], EVENTS_SCHEMA)
        return self.spark.read.schema(EVENTS_SCHEMA).parquet(self.events_path)

    def _exists(self) -> bool:
        # cheap local check; on object stores this is a catalog lookup
        return os.path.isdir(self.events_path) and any(
            not f.startswith((".", "_")) for f in os.listdir(self.events_path)
        )

    # ----------------------------------------------------------- status

    def statuses(
        self, space: str | None = None, segment: str | None = None
    ) -> DataFrame:
        """The maintained segment_status table (A1, incrementally updated
        at write time — reference: pebblekit/store.go:289-302), optionally
        scoped to one space / segment: one row per segment, ordered by
        (space, segment).

        A status swap (:meth:`_write_status_row`) lands the new row file
        before it removes the old one, so for an instant a partition holds
        two row versions; as in :meth:`last_status`, the max-last_sequence
        version wins.  The window runs on the sort's range partitioning
        (no second shuffle); one segment's partition holds one or two tiny
        files, so that lookup reads in a single task with no shuffle."""
        if not os.path.isdir(self.status_path):
            return self.spark.createDataFrame([], SEGMENT_STATUS_SCHEMA)
        df = self.spark.read.schema(SEGMENT_STATUS_SCHEMA).parquet(self.status_path)
        if space is not None:
            df = df.filter(F.col("space") == space)
        if segment is not None:
            df = df.filter(F.col("segment") == segment).coalesce(1)
        versions = Window.partitionBy("space", "segment").orderBy(
            F.desc("last_sequence")
        )
        return (
            df.orderBy("space", "segment")
            .withColumn("_version", F.row_number().over(versions))
            .filter(F.col("_version") == 1)
            .drop("_version")
        )

    def last_status(self, space: str, segment: str) -> dict | None:
        """O(1) stored-status lookup: reads the one tiny parquet partition
        for (space, segment) driver-side (pyarrow) — no Spark job.  This is
        the columnar analog of the reference peeking its stored status row
        / LAST_ENTRY pointer (pebblekit/store.go:219-228,294).

        During a concurrent status swap two row versions may coexist for an
        instant; the max-last_sequence row wins (monotone by construction).
        """
        part = os.path.join(self.status_path, _part_dir(space, segment))
        if not os.path.isdir(part):
            return None
        best = None
        for f in os.listdir(part):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(part, f))
            for row in t.to_pylist():
                if best is None or (row["last_sequence"] or 0) > (best["last_sequence"] or 0):
                    best = row
        return best

    def _write_status_row(
        self,
        space: str,
        segment: str,
        first_sequence: int,
        first_ts: int,
        last_sequence: int,
        last_ts: int,
        last_trx_number: int,
    ) -> None:
        """Merge one produce's resulting status into the status table —
        pure driver-side work on values the produce already computed (no
        events scan, no Spark job; VERDICT r1 'incremental status upsert').

        Write order makes readers race-safe without a lock: the new row
        file lands first, old row files are removed after — a concurrent
        reader sees one or both rows and `last_status` resolves by max
        last_sequence."""
        part = os.path.join(self.status_path, _part_dir(space, segment))
        os.makedirs(part, exist_ok=True)
        old_files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        table = pa.table(
            {
                "first_sequence": pa.array([first_sequence], pa.int64()),
                "first_ts": pa.array([first_ts], pa.int64()),
                "last_sequence": pa.array([last_sequence], pa.int64()),
                "last_ts": pa.array([last_ts], pa.int64()),
                "last_trx_number": pa.array([last_trx_number], pa.int64()),
            }
        )
        tmp = os.path.join(part, f".tmp-{uuid.uuid4()}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(part, f"{uuid.uuid4()}.parquet"))
        for f in old_files:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(part, f))

    def _repair_status(self, space: str, segment: str) -> None:
        """Recompute one segment's status row from events (recovery path —
        reference recompute fallback, pebblekit/store.go:368-409)."""
        row = (
            self.events()
            .filter((F.col("space") == space) & (F.col("segment") == segment))
            .agg(*_status_aggs())
            .first()
        )
        if row["ls"] is not None:
            self._write_status_row(space, segment, *row)

    def _last_state(self, space: str, segment: str) -> tuple[int, int]:
        """(last_sequence, last_trx_number) — the reference's pre-produce
        Peek (pebblekit/store.go:219-228).

        Fast path: the maintained status row (driver-side point read, no
        Spark job).  Fallback: events scan (bootstrap / stores written
        before status maintenance existed).  A stale status row — possible
        only after a crash inside the append/status window — is detected by
        the post-append verification, which rolls the write back, repairs
        the status row from events, and raises; the caller's retry then
        sees the correct tail."""
        st = self.last_status(space, segment)
        if st is not None:
            return int(st["last_sequence"] or 0), int(st["last_trx_number"] or 0)
        return self._last_state_scan(space, segment)

    def _last_state_scan(self, space: str, segment: str) -> tuple[int, int]:
        if not self._exists():
            return 0, 0
        row = (
            self.events()
            .filter((F.col("space") == space) & (F.col("segment") == segment))
            .agg(
                F.max("sequence").alias("s"),
                F.max("trx_number").alias("t"),
            )
            .first()
        )
        return (row["s"] or 0, row["t"] or 0)

    # ------------------------------------------------------------ write

    def produce(
        self,
        space: str,
        segment: str,
        records: list,
        now_ms: int | None = None,
    ) -> list[dict]:
        """Append records to one segment; returns one SegmentStatus dict per
        committed chunk.

        ``records``: a list of (sequence, payload, metadata) tuples or dicts,
        validated on the driver: null payloads, non-integer or non-positive
        sequences raise ValidationError; gaps, duplicates or null sequences
        raise SequenceMismatchError.  Bulk DataFrame loads go through
        ``streaming/ingest.ingest_batch``."""
        if not space or not segment:
            raise ValidationError("space and segment must be non-empty")
        batch = [
            (r["sequence"], r["payload"], r.get("metadata"))
            if isinstance(r, dict)
            else (r[0], r[1], r[2] if len(r) > 2 else None)
            for r in records
        ]
        n = len(batch)
        if n == 0:
            return []
        seqs = [r[0] for r in batch if r[0] is not None]
        if any(isinstance(q, bool) or not isinstance(q, int) for q in seqs):
            raise ValidationError("sequences must be integers")
        n_null = sum(r[1] is None for r in batch)
        n_badseq = sum(q <= 0 for q in seqs)
        if n_null or n_badseq:
            raise ValidationError(
                f"{n_null} null payloads, {n_badseq} non-positive sequences"
            )
        if len(set(seqs)) != n or max(seqs) - min(seqs) + 1 != n:
            # gaps, duplicates or null sequences inside the batch (I1/I2
            # precondition)
            raise SequenceMismatchError(space, segment, -1, -1)
        batch.sort(key=lambda r: r[0])

        # lock order: in-process segment lock → store flock (shared) →
        # segment flock (exclusive).  compact() takes the store flock
        # exclusively, so it never overlaps a produce; same-segment
        # producers in other processes serialize on the segment flock.
        with self._segment_lock(space, segment), _flock(
            self._store_lock_path, exclusive=False
        ), _flock(self._seg_flock_path(space, segment), exclusive=True):
            return self._produce_locked(space, segment, batch, now_ms)

    def _produce_locked(self, space, segment, batch, now_ms) -> list[dict]:
        n = len(batch)
        base, max_seq = batch[0][0], batch[-1][0]
        last_seq, last_trx = self._last_state(space, segment)
        if base != last_seq + 1:
            raise SequenceMismatchError(space, segment, last_seq + 1, base)

        # -- stamp chunk lineage: chunk index from the position in the
        # contiguous batch; one ts + TRX per chunk.  Every chunk commits at
        # the same wall-clock, so ts stays nondecreasing in sequence.
        ts = now_ms if now_ms is not None else int(time.time() * 1000)
        n_chunks = (n + PRODUCE_CHUNK_SIZE - 1) // PRODUCE_CHUNK_SIZE
        chunk_ids = [str(uuid.uuid4()) for _ in range(n_chunks)]
        chunk = [i // PRODUCE_CHUNK_SIZE for i in range(n)]
        # the EVENTS_SCHEMA columns minus the ``space`` partition column,
        # in the order Spark's partitionBy writer lays them out
        table = pa.table(
            {
                "store_id": pa.repeat(self.store_id, n),
                "segment": pa.repeat(segment, n),
                "sequence": pa.array([r[0] for r in batch], pa.int64()),
                "ts": pa.repeat(ts, n),
                "payload": pa.array([r[1] for r in batch], pa.binary()),
                "metadata": pa.array(
                    [r[2] for r in batch], pa.map_(pa.string(), pa.string())
                ),
                "trx_id": pa.array([chunk_ids[c] for c in chunk], pa.string()),
                "trx_node": pa.repeat(self._node_id, n),
                "trx_number": pa.array([last_trx + 1 + c for c in chunk], pa.int64()),
            }
        )

        # -- append, then verify the tail actually reads back contiguous.
        # The segment flock already excludes same-segment writers that
        # honor the lock protocol; this check catches everything else —
        # a stale status row after a crash, or a foreign writer bypassing
        # the locks — and rolls the just-renamed file back so the
        # violation is surfaced as an error, not silent duplicate
        # sequences (I1/I2 stay invariant for either racer).  The read
        # goes through events(), the reader consumers use, as ONE job;
        # `sequence > last_seq` prunes every file whose max sequence stat
        # is below the new tail.
        appended = self._append_file(space, table)
        tail = sorted(
            r[0]
            for r in self.events()
            .filter(
                (F.col("space") == space)
                & (F.col("segment") == segment)
                & (F.col("sequence") > last_seq)
            )
            .select("sequence")
            .collect()
        )
        if tail != list(range(last_seq + 1, max_seq + 1)):
            with contextlib.suppress(FileNotFoundError):
                os.remove(appended)
            self._repair_status(space, segment)
            cur_seq, _ = self._last_state(space, segment)
            raise SequenceMismatchError(space, segment, cur_seq + 1, base)

        # -- merge the status this produce just created (no events scan)
        prior = None if last_seq == 0 else self.last_status(space, segment)
        if last_seq > 0 and prior is None:
            # legacy store without a status table: one-time bootstrap
            self._repair_status(space, segment)
        else:
            self._write_status_row(
                space,
                segment,
                first_sequence=prior["first_sequence"] if prior else base,
                first_ts=prior["first_ts"] if prior else ts,
                last_sequence=max_seq,
                last_ts=ts,
                last_trx_number=last_trx + n_chunks,
            )

        # -- SegmentStatus per chunk (reference returns one per commit)
        statuses = []
        for ci in range(n_chunks):
            first = base + ci * PRODUCE_CHUNK_SIZE
            last = min(base + (ci + 1) * PRODUCE_CHUNK_SIZE - 1, max_seq)
            statuses.append(
                {
                    "space": space,
                    "segment": segment,
                    "first_sequence": 1 if last_seq == 0 else None,
                    "last_sequence": last,
                    "last_ts": ts,
                    "trx_number": last_trx + 1 + ci,
                    "first_in_batch": first,
                }
            )
        return statuses

    def publish(
        self,
        space: str,
        segment: str,
        payload: bytes,
        metadata: dict[str, str] | None = None,
        now_ms: int | None = None,
    ) -> dict:
        """S6 — single-record append: peek → sequence = last+1 → produce
        (reference: pkg/client/client.go:1247-1320)."""
        last_seq, _ = self._last_state(space, segment)
        out = self.produce(
            space, segment, [(last_seq + 1, payload, metadata)], now_ms=now_ms
        )
        return out[0]

    def file_stats(self, small_file_bytes: int = 32 * 1024 * 1024) -> list[dict]:
        """Per-space physical-layout report — the signal that schedules
        :meth:`compact`: one dict per space with n_files, total_bytes,
        avg_bytes, n_small (files under ``small_file_bytes``), and
        ``needs_compaction`` (more than one file and a majority small).

        Driver-side directory walk (:meth:`_space_files`): cost is
        proportional to the FILE COUNT (the very thing being measured), no
        data is read.  At the 256 MB-target layout of docs/SCALE.md, a
        healthy space reports n_small ≈ 0; a streaming-append space drifts
        upward until the scheduled compact."""
        out = []
        for space, files in self._space_files():
            sizes = [size for _, size in files]
            n, total = len(sizes), sum(sizes)
            small = sum(1 for s in sizes if s < small_file_bytes)
            out.append(
                {
                    "space": space,
                    "n_files": n,
                    "total_bytes": total,
                    "avg_bytes": total // n if n else 0,
                    "n_small": small,
                    "needs_compaction": n > 1 and small * 2 > n,
                }
            )
        return out

    def compaction_plan(self, target_bytes: int = 256 * 1024 * 1024):
        """Bin-packed rewrite plan for the store's parquet files
        (functions/layout.compaction_plan grouped by space): one row per
        file with its target output bin — the finer-grained companion to
        :meth:`compact` (which rewrites whole spaces to N files); this
        plans SIZE-bounded outputs so a petabyte space compacts into
        ~target-sized files instead of one giant one.

        The file walk is :meth:`file_stats`' (:meth:`_space_files`); the
        plan itself is a metadata-scale DataFrame — nothing reads data
        bytes."""
        from streamkit_spark.functions.layout import compaction_plan

        rows = [
            (space, p, size)
            for space, files in self._space_files()
            for p, size in files
        ]
        files = self.spark.createDataFrame(
            rows, "space string, file string, bytes long"
        )
        return compaction_plan(
            files, target_bytes, group_cols=("space",)
        )

    def compact(
        self, files_per_space: int = 1, target_bytes: int | None = None
    ) -> dict[str, int]:
        """Rewrite the events table into few large files per space, sorted
        by (segment, sequence).

        Streaming appends leave one small file per produce — the classic
        small-file problem; at scale this turns scans into metadata storms.
        Compaction restores the designed layout (space partitions, sorted
        files → parquet min/max stats prune segment scans).

        ``target_bytes`` switches to SIZE-TARGETED output: the partition
        count comes from current on-disk bytes / target, and rows are
        ``repartitionByRange``d on (space, segment, sequence) — so every
        output file covers a NON-OVERLAPPING sorted key range (hash-split
        files overlap on (segment, sequence) and defeat min/max pruning;
        range-split files don't), and a petabyte space compacts into
        ~target-sized files instead of one giant one.  File sizes track
        the target approximately (row-count-proportional ranges ×
        compression variance).

        Concurrency contract: compact takes the store flock EXCLUSIVELY
        while producers hold it shared, so no produce can rename a
        committed file into the pre-swap directory (which would then be
        deleted — acknowledged-write loss).  The snapshot is read and
        rewritten *inside* the lock.  Readers take no lock: between the
        two renames of the swap the events path briefly does not exist and
        a concurrent reader sees an empty table for that instant — a
        documented read race, never a write loss.  As defense-in-depth
        against writers that bypassed the flock, any parquet file that
        landed in the old directory after the snapshot is moved into the
        new layout instead of deleted.

        Returns {"files_before": n, "files_after": m}."""
        import shutil

        def count_files(root: str) -> int:
            return len(_parquet_paths(root))

        def parquet_files(root: str) -> set[str]:
            return {
                os.path.relpath(p, root) for p in _parquet_paths(root)
            }

        if not self._exists():
            return {"files_before": 0, "files_after": 0}
        with _flock(self._store_lock_path, exclusive=True):
            before = count_files(self.events_path)
            snapshot = parquet_files(self.events_path)
            staging = self.events_path + ".compacting"
            if target_bytes is not None:
                if target_bytes <= 0:
                    raise ValueError("target_bytes must be positive")
                total = sum(
                    os.path.getsize(p)
                    for p in _parquet_paths(self.events_path)
                )
                n_parts = max(1, -(-total // target_bytes))
                laid_out = self.events().repartitionByRange(
                    n_parts, "space", "segment", "sequence"
                )
            else:
                laid_out = self.events().repartition(
                    files_per_space, "space"
                )
            (
                laid_out
                .sortWithinPartitions("space", "segment", "sequence")
                .write.mode("overwrite")
                .partitionBy("space")
                .parquet(staging)
            )
            old = self.events_path + ".old"
            os.rename(self.events_path, old)
            os.rename(staging, self.events_path)
            # straggler sweep: files not in the snapshot were written after
            # the rewrite began (lock-bypassing writer) — merge, don't drop
            for rel in parquet_files(old) - snapshot:
                dest = os.path.join(self.events_path, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(os.path.join(old, rel), dest)
            shutil.rmtree(old)
        return {"files_before": before, "files_after": count_files(self.events_path)}

    def recover(
        self,
        verify_status: bool = False,
        spaces: list[str] | None = None,
        staging_ttl_ms: int = 0,
    ) -> dict:
        """Startup recovery sweep — the analog of the reference's WAL
        orphan recovery (azurekit/store.go:553-612: startup replay of
        orphaned transaction entities + the 5-minute background monitor).

        The parquet Store has no WAL: a produce is atomic at the file
        rename, so a crash can only leave three kinds of debris, each
        swept here under the exclusive store flock (which waits out every
        in-flight produce, so nothing live is touched):

        1. **Orphaned produce staging dirs** (``.staging-*``): a producer
           crashed before its renames — the write was never acknowledged,
           the files never entered the table; delete.  ``staging_ttl_ms``
           adds an age guard for operators who run recover with lockless
           writers around.
        2. **Interrupted compact**: crash between compact's two renames
           leaves no events dir and an ``.old`` — roll back (the rewrite
           in ``.compacting`` may be incomplete; the old layout is the
           acknowledged state).  A crash after the swap but before the
           straggler sweep leaves a complete NEW table plus ``.old``;
           the old dir is reported, not deleted — it only holds unmerged
           stragglers if a lock-bypassing writer raced the compact, and
           that call is an operator's to make.
        3. **Stale/missing status rows** (crash inside the append→status
           window) + orphaned ``.tmp-*`` status files.  With
           ``verify_status=True`` every segment tail is recomputed from
           events (one distributed agg; scope with ``spaces`` at scale)
           and mismatched rows rewritten.  Without it, stale rows also
           self-heal lazily: the next produce's post-append verification
           rolls back, repairs, and retries clean (``_produce_locked``).

        Returns a report dict of what was swept/repaired.
        """
        import shutil

        report = {
            "staging_removed": 0,
            "compact_rolled_back": False,
            "old_dir_present": False,
            "status_tmp_removed": 0,
            "status_repaired": 0,
        }
        with _flock(self._store_lock_path, exclusive=True):
            old = self.events_path + ".old"
            compacting = self.events_path + ".compacting"
            if not os.path.isdir(self.events_path) and os.path.isdir(old):
                # crash mid-swap: the old layout is the acknowledged state
                os.rename(old, self.events_path)
                report["compact_rolled_back"] = True
            if os.path.isdir(compacting):
                shutil.rmtree(compacting, ignore_errors=True)
            report["old_dir_present"] = os.path.isdir(old)

            now_ms = time.time() * 1000
            if os.path.isdir(self.root):
                for e in os.listdir(self.root):
                    if not e.startswith(".staging-"):
                        continue
                    p = os.path.join(self.root, e)
                    if now_ms - os.path.getmtime(p) * 1000 >= staging_ttl_ms:
                        shutil.rmtree(p, ignore_errors=True)
                        report["staging_removed"] += 1

            if os.path.isdir(self.status_path):
                for d, _, files in os.walk(self.status_path):
                    for f in files:
                        if f.startswith(".tmp-"):
                            with contextlib.suppress(FileNotFoundError):
                                os.remove(os.path.join(d, f))
                            report["status_tmp_removed"] += 1

            if verify_status and self._exists():
                ev = self.events()
                if spaces:
                    ev = ev.filter(F.col("space").isin(spaces))
                actual = ev.groupBy("space", "segment").agg(*_status_aggs()).collect()
                for row in actual:
                    st = self.last_status(row["space"], row["segment"])
                    if (
                        st is None
                        or st["last_sequence"] != row["ls"]
                        or st["last_trx_number"] != row["lt"]
                        or st["first_sequence"] != row["fs"]
                    ):
                        self._write_status_row(*row)
                        report["status_repaired"] += 1
        return report

    # ---------------------------------------------------------- helpers

    def _space_files(self) -> list[tuple[str, list[tuple[str, int]]]]:
        """(space, [(path, bytes), ...]) per ``space=`` directory of the
        events table, walked under the store flock SHARED (compatible with
        producers, excludes compact's directory swap).  Files a concurrent
        produce rollback removes mid-walk are skipped, not crashed on.
        Space names are unescaped from Spark's partition-dir encoding."""
        out = []
        if not os.path.isdir(self.events_path):
            return out
        with _flock(self._store_lock_path, exclusive=False):
            for entry in sorted(os.listdir(self.events_path)):
                spath = os.path.join(self.events_path, entry)
                if not (os.path.isdir(spath) and "=" in entry):
                    continue
                files = []
                for p in _parquet_paths(spath):
                    try:
                        files.append((p, os.path.getsize(p)))
                    except OSError:
                        continue  # rolled back / renamed between walk+stat
                out.append((urllib.parse.unquote(entry.split("=", 1)[1]), files))
        return out

    def _append_file(self, space: str, table: pa.Table) -> str:
        """Concurrent-safe append of one produce as ONE parquet file: write
        it into a produce-private staging dir, then rename it into the
        table under a unique name.  Returns the destination path (so a
        failed post-append verification can roll this exact write back).

        The ``space=`` directory is named by Spark's own escaping, so the
        layout is exactly what ``partitionBy("space")`` writes.  A crash
        before the rename leaves only the staging dir, which
        :meth:`recover` sweeps.  Writers of different segments never share
        a staging path, so they run in parallel — the reference's model
        (per-segment serialization only, docs/production.md:85-91)."""
        import shutil

        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog
        space_dir = f"space={utils.ExternalCatalogUtils.escapePathName(space)}"
        staging = os.path.join(self.root, f".staging-{uuid.uuid4()}")
        os.makedirs(staging)
        try:
            tmp = os.path.join(staging, "part.parquet")
            pq.write_table(table, tmp, **_WRITE_OPTIONS)
            dest_dir = os.path.join(self.events_path, space_dir)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, f"{uuid.uuid4()}.parquet")
            os.rename(tmp, dest)
            return dest
        finally:
            shutil.rmtree(staging, ignore_errors=True)
