"""Parquet-backed block store — the write path (SURVEY.md §2.1 S1-S3).

The reference's LSM machinery (WAL → memtable → SSTable flush → compaction,
``src/storage/engine.zig:644-763``) exists to give durable ordered appends
with last-writer-wins reads. Columnar storage gets the same contract from
append-only parquet + the MVCC snapshot view:

- ``append_blocks`` (S1): assign a monotone sequence batch, append — never
  rewrite. Blocks are partitioned by ``codebase`` (the workspace filter is a
  partition-pruned scan, reference F7).
- ``append_edges`` (S2): endpoint existence enforced with two semi-joins
  against the visible snapshot (``src/storage/engine.zig:1207-1217``).
- ``delete_blocks`` (S3): tombstone append; shadowing happens at read time
  in the snapshot view (``src/storage/tombstone.zig``).
- reads (S4/S5): ``visible()`` = snapshot view over all appended versions.

Sequence assignment: each append claims a contiguous batch
``[hi+1, hi+n]`` read from the store's current max — the reference's global
counter. Multi-writer safety (r7): every mutating op runs under a TTL
writer lease (see ``_writer_lease``), so two engines sharing a store path
serialize their reserve-then-write sections and can never double-assign a
sequence range; a crashed holder's lease is stolen after its TTL. (A
Delta-backed deployment would get the same from the transaction log; plain
parquet + lease keeps the container dependency-free.)

Compaction analogue: ``compact()`` rewrites the store to just the visible
snapshot (dropping shadowed versions + consumed tombstones) — same effect as
the reference's tiered compaction, as a batch job.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from kausaldb_spark.snapshot import visible_blocks


class LeaseHeldError(RuntimeError):
    """Another writer holds the store's writer lease and did not release it
    within the acquisition timeout."""

_EMPTY_TOMB = "block_id string, sequence bigint, deletion_timestamp bigint"
# per-file ingest state: content hash + the sequence base of the batch that
# last (re-)ingested the file. Drives incremental sync (hash diff) and edge
# staleness (an edge from an older ingest of the same file is shadowed).
_EMPTY_FILE_STATE = (
    "codebase string, file_path string, content_hash string, ingest_seq bigint"
)
# inverted reference index: one row per (file, referenced bare name) from the
# parse's raw edges, plus a name=NULL sentinel per parsed file (so coverage
# is distinguishable from "file references nothing"). Makes sync's
# which-files-must-re-resolve lookup change-bounded instead of a content
# token scan over the whole codebase.
_EMPTY_REF_NAMES = (
    "codebase string, file_path string, name string, ingest_seq bigint"
)
# Declared table schemas: every read is pinned to one (no schema-inference
# job per read). ``codebase`` is the blocks table's partition column and
# therefore last, where a partitioned parquet read puts it.
_BLOCKS = (
    "id string, sequence bigint, source_uri string, unit_type string,"
    " unit_id string, file_path string, metadata_json string,"
    " content string, codebase string"
)
_EDGES = (
    "src string, dst string, edge_type string, codebase string,"
    " src_file string, ingest_seq bigint"
)
_EDGE_COLS = tuple(f.split()[0] for f in _EDGES.split(","))

# Session-level MVCC snapshot cache: (session id, store path, high-water
# mark) → persisted visible() frame. Valid because every block/tombstone
# write RESERVES a new high-water mark before touching data files
# (reserve-then-write, see append_blocks) — so an unchanged mark implies an
# unchanged visible set. One entry per store (stale marks are unpersisted on
# replacement); compact() invalidates explicitly (same mark, new files).
_SNAPSHOT_CACHE: dict[tuple, DataFrame] = {}


class BlockStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        lease_ttl: float = 600.0,
        lease_timeout: float = 30.0,
    ):
        self.spark = spark
        self.path = path
        self._current_path = os.path.join(path, "_current.json")
        self._hwm_path = os.path.join(path, "_max_seq.json")
        self._lease_path = os.path.join(path, "_writer.lease")
        self._lease_ttl = float(lease_ttl)
        self._lease_ttl_active = float(lease_ttl)
        self._lease_timeout = float(lease_timeout)
        self._lease_depth = 0
        self._lease_tid: int | None = None  # thread that owns the held lease
        self._lease_owner = f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:8]}"
        # intra-process writer serialization: same-thread reentrant, blocks
        # other threads of this instance (see _writer_lease)
        self._lease_tlock = threading.RLock()
        self._root_tl = threading.local()  # per-thread pinned version root

    # -- versioned-root layout (reader-vs-compact isolation) -----------------
    # Every table directory resolves through a `_current.json` pointer file:
    # after the first compact, tables live under an immutable version root
    # (`path/v-<hex>/blocks` ...) and compact() publishes a NEW root with a
    # single atomic os.replace of the pointer — the object-store
    # write-new-prefix + pointer-flip pattern (same shape as Delta/Iceberg
    # snapshot commits). A reader whose plan listed files under the previous
    # root keeps reading them untouched: the previous root is retained for
    # one full compact cycle (GC'd only by the NEXT compact), so a reader
    # polling visible() across a compact never sees vanished files. Stores
    # that have never compacted (and pre-r9 stores) use the flat legacy
    # layout directly under `path` — `_root` falls back when no pointer
    # exists, so both layouts read transparently.

    def _root(self) -> str:
        pinned = getattr(self._root_tl, "pin", None)
        if pinned is not None:
            return pinned
        try:
            with open(self._current_path, encoding="utf-8") as f:
                return os.path.join(self.path, json.load(f)["version"])
        except (OSError, ValueError, KeyError):
            return self.path  # legacy flat layout / store not yet compacted

    @contextmanager
    def _pin_root(self):
        """Resolve the version root ONCE for a multi-table read composition.

        Each table dir resolves through the ``_current.json`` pointer, so
        without pinning a compact's pointer flip can land BETWEEN two table
        reads of one logical snapshot and mix roots — e.g. blocks from the
        pre-compact root joined against the new root's empty tombstone
        table, resurrecting deleted rows (caught by the reader-vs-compact
        fault test: the polling reader intermittently saw 60 instead of
        50). Pinning makes every ``spark.read.parquet`` inside the block
        list files under the same immutable ``v-<hex>`` root, which the
        grace-copy GC keeps alive for a full compact cycle. Nested pins
        reuse the outermost root; the pin is thread-local, so concurrent
        readers sharing one store instance snapshot independently. Writers
        don't need it: the pointer only flips inside compact(), which
        serializes with every mutation under the writer lease."""
        if getattr(self._root_tl, "pin", None) is not None:
            yield
            return
        self._root_tl.pin = self._root()
        try:
            yield
        finally:
            self._root_tl.pin = None

    @property
    def _blocks_dir(self) -> str:
        return os.path.join(self._root(), "blocks")

    @property
    def _edges_dir(self) -> str:
        return os.path.join(self._root(), "edges")

    @property
    def _tomb_dir(self) -> str:
        return os.path.join(self._root(), "tombstones")

    @property
    def _file_state_dir(self) -> str:
        return os.path.join(self._root(), "file_state")

    @property
    def _ref_names_dir(self) -> str:
        return os.path.join(self._root(), "ref_names")

    # -- writer lease --------------------------------------------------------
    # The reference gets write safety from its single-threaded core + WAL
    # (docs/DESIGN.md "Single-Threaded Core"); this store's analogue is a
    # TTL lease over the sequence counter: every mutating op runs inside
    # acquire -> reserve-then-write -> release, so two engines pointed at
    # one store can never read the same high-water mark and double-assign
    # a sequence range. A crashed holder's lease is STOLEN after its TTL.
    #
    # Every lease TRANSITION (acquire, steal, renew, release) is a
    # read-decide-write of one small JSON file, executed under an flock on
    # a sidecar `.lock` file — the file-system equivalent of the
    # compare-and-swap the protocol needs. flock excludes across processes
    # AND across threads in one process (it locks the open file
    # description, not the pid), and the kernel drops it automatically if
    # a holder dies mid-transition, so a crash inside the critical section
    # cannot wedge the store. Transitions are microseconds; data writes
    # (the Spark jobs) happen OUTSIDE the mutex, under the lease itself.
    #
    # History (r9): the previous protocol composed O_CREAT|O_EXCL
    # acquisition with rename-claim steal/renew/release. Its renewal had
    # to rename the lease file away, verify ownership on the claimed
    # inode, and link it back - leaving a window where the lease PATH was
    # absent while the lease was healthily HELD. A fresh contender's
    # O_EXCL create read that absence as "free" and acquired a second
    # lease: the concurrent-writer fault test caught the resulting dual
    # writers (tests/test_fault_injection.py). POSIX has no file-content
    # CAS, so every rename-dance variant just moves that window around;
    # the mutex removes it. On an object store the transition maps to a
    # conditional put (S3 If-Match / GCS generation preconditions), or
    # disappears entirely under a Delta transaction log.
    #
    # TTL sizing unchanged (ADVICE r7): default 600 s = the worst-case
    # Spark job, and the holder RENEWS after the reserve step, before long
    # writes, and at every compact phase boundary. A holder must stall
    # past the TTL without crossing any renewal point to be stolen from.

    @contextmanager
    def _lease_mutex(self):
        """flock-serialized critical section for lease-file transitions."""
        import fcntl

        os.makedirs(self.path, exist_ok=True)
        fd = os.open(self._lease_path + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _lease_read(self) -> dict:
        """Current lease content, {} when absent or torn (a holder that
        crashed mid-create left a torn file: treated as expired)."""
        try:
            with open(self._lease_path, encoding="utf-8") as f:
                cur = json.load(f)
        except (OSError, ValueError):
            return {}
        # valid JSON that isn't an object ('[1]', '"x"', '5') is equally
        # torn/garbage — returning it would AttributeError in .get() and
        # wedge every contender instead of degrading to the TTL steal
        return cur if isinstance(cur, dict) else {}

    @staticmethod
    def _lease_expires(cur: dict) -> float:
        """The lease's expiry as a float, 0.0 (= long expired, stealable)
        when the field is missing or garbage. JSON-valid-but-non-numeric
        ``expires`` (a crashed writer, a foreign tool) must degrade to the
        TTL-steal path, never wedge every contender with a raised
        ValueError/TypeError — the protocol's invariant is that ANY torn
        or garbage lease is stealable after TTL."""
        try:
            return float(cur.get("expires", 0.0))
        except (TypeError, ValueError):
            return 0.0

    def _lease_write(self, ttl: float) -> None:
        tmp = f"{self._lease_path}.tmp.{self._lease_owner.rsplit(':', 1)[-1]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {"owner": self._lease_owner, "expires": time.time() + ttl}, f
            )
        os.replace(tmp, self._lease_path)

    @contextmanager
    def _writer_lease(self, ttl: float | None = None):
        # Intra-process serialization FIRST: the depth counter alone made a
        # second THREAD look like a re-entry of the first thread's lease —
        # it skipped acquisition, and the first thread's exit then released
        # the lease file mid-write (dual-writer window). The RLock gives
        # same-thread reentrancy and blocks other threads, honoring the
        # same acquisition timeout as the cross-process path.
        if not self._lease_tlock.acquire(timeout=self._lease_timeout):
            raise LeaseHeldError(
                f"writer lease on {self.path} held by another thread of "
                f"this process (waited {self._lease_timeout:.0f}s)"
            )
        try:
            if self._lease_depth > 0:  # reentrant within one call chain
                self._lease_depth += 1
                # a nested scope asking for a LONGER ttl (compact inside an
                # engine-held lease) must widen the active window — else
                # its phase renewals keep extending the caller's shorter
                # ttl and a long phase reopens the steal window
                if ttl is not None and ttl > self._lease_ttl_active:
                    self._lease_ttl_active = ttl
                    self._lease_renew()
                try:
                    yield
                finally:
                    self._lease_depth -= 1
                return
            ttl = ttl if ttl is not None else self._lease_ttl
            self._lease_ttl_active = ttl
            deadline = time.monotonic() + self._lease_timeout
            while True:
                with self._lease_mutex():
                    cur = self._lease_read()
                    expired = not cur or time.time() > self._lease_expires(cur)
                    if expired:  # absent, torn, or past TTL: acquire/steal
                        self._lease_write(ttl)
                        break
                if time.monotonic() > deadline:
                    raise LeaseHeldError(
                        f"writer lease on {self.path} held by "
                        f"{cur.get('owner', '?')} (expires in "
                        f"{self._lease_expires(cur) - time.time():.0f}s)"
                    )
                time.sleep(0.05)
            self._lease_depth = 1
            self._lease_tid = threading.get_ident()
            try:
                yield
            finally:
                self._lease_depth = 0
                self._lease_tid = None
                self._lease_release()
        finally:
            self._lease_tlock.release()

    def _lease_release(self) -> None:
        """Unlink the lease IFF still ours — under the mutex, so this can
        never delete a stealer's fresh lease (the steal and the release
        serialize; whichever runs second sees the other's owner)."""
        with self._lease_mutex():
            if self._lease_read().get("owner") == self._lease_owner:
                try:
                    os.unlink(self._lease_path)
                except OSError:
                    pass

    def _lease_renew(self) -> None:
        """Push the held lease's expiry out by the active TTL — called after
        the reserve step and before long Spark writes so a slow job can't
        outlive its lease mid-operation (ADVICE r7). Under the mutex the
        owner check and the rewrite are one atomic transition: a steal
        cannot land between them, and the lease file never goes absent
        (the r9 dual-writer bug this protocol replaced). If the lease was
        already stolen — we truly overran our TTL — the stealer's lease is
        left untouched and our writes stop extending a lease we no longer
        hold; release will see the foreign owner and leave it alone too."""
        if self._lease_depth <= 0:
            return
        with self._lease_mutex():
            if self._lease_read().get("owner") == self._lease_owner:
                self._lease_write(self._lease_ttl_active)

    # -- raw table accessors ------------------------------------------------

    @staticmethod
    def _dir_has_data(d: str) -> bool:
        for _root, _dirs, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _read_or_empty(self, d: str, schema: str) -> DataFrame:
        """The table at ``d`` read with its declared ``schema`` — no
        inference job, and files written before a column existed read it as
        NULL. A table whose directory does not exist yet is answered from
        the schema alone, without touching Spark. Empty ONLY when the table
        genuinely holds no data: any read failure while data files ARE
        present (corruption, permissions) re-raises, at the read or at the
        first action — silently treating a broken store as empty would
        reset sequences and let compact() overwrite real data with nothing.
        (On an object store the walk becomes a prefix listing.)"""
        if not os.path.isdir(d):
            return self._empty(schema)
        try:
            return self.spark.read.schema(schema).parquet(d)
        except AnalysisException:
            if self._dir_has_data(d):
                raise
            return self._empty(schema)

    def _empty(self, schema: str) -> DataFrame:
        """An empty frame the optimizer knows is empty (``limit(0)`` folds
        to an empty local relation), so joins and aggregations over an
        absent table fold away instead of running tasks."""
        return self.spark.createDataFrame([], schema).limit(0)

    def blocks_raw(self) -> DataFrame:
        return self._read_or_empty(self._blocks_dir, _BLOCKS)

    def edges(self) -> DataFrame:
        """Edge rows with provenance: (src, dst, edge_type, codebase,
        src_file, ingest_seq). Provenance is NULL for edges appended via
        the plain API or before it existed (they are then never
        epoch-shadowed)."""
        return self._read_or_empty(self._edges_dir, _EDGES)

    def tombstones(self) -> DataFrame:
        return self._read_or_empty(self._tomb_dir, _EMPTY_TOMB)

    def file_state(self) -> DataFrame:
        """Append-only per-file ingest log; the latest row per (codebase,
        file_path) is the current state (content_hash NULL = file removed)."""
        return self._read_or_empty(self._file_state_dir, _EMPTY_FILE_STATE)

    def current_file_state(self) -> DataFrame:
        """Last-writer-wins view of file_state (same MVCC rule as blocks)."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("codebase", "file_path").orderBy(
            F.col("ingest_seq").desc()
        )
        return (
            self.file_state()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def record_file_state(self, rows: DataFrame) -> None:
        """Append (codebase, file_path, content_hash, ingest_seq) rows."""
        with self._writer_lease():
            rows.select(
                "codebase", "file_path", "content_hash",
                F.col("ingest_seq").cast("bigint"),
            ).write.mode("append").parquet(self._file_state_dir)

    def ref_names(self) -> DataFrame:
        """Append-only inverted reference index (see _EMPTY_REF_NAMES)."""
        return self._read_or_empty(self._ref_names_dir, _EMPTY_REF_NAMES)

    def record_ref_names(self, rows: DataFrame) -> None:
        with self._writer_lease():
            rows.select(
                "codebase", "file_path", "name", F.col("ingest_seq").cast("bigint")
            ).write.mode("append").parquet(self._ref_names_dir)

    def current_ref_names(self) -> DataFrame:
        """Rows at each file's CURRENT ingest epoch (the file_state view is
        the authority on which epoch is current — one broadcast join, no
        second window over the index)."""
        with self._pin_root():  # file_state + ref_names from ONE root
            cur = self.current_file_state().where(
                F.col("content_hash").isNotNull()
            ).select(
                F.col("codebase").alias("_cb"), F.col("file_path").alias("_fp"),
                F.col("ingest_seq").alias("_epoch"),
            )
            r = self.ref_names()
            return (
                r.join(
                    F.broadcast(cur),
                    (r.codebase == F.col("_cb"))
                    & (r.file_path == F.col("_fp"))
                    & (r.ingest_seq == F.col("_epoch")),
                )
                .select("codebase", "file_path", "name", "ingest_seq")
            )

    # -- sequence management ------------------------------------------------

    def _scan_max_sequence(self) -> int:
        hi_b = self.blocks_raw().agg(F.max("sequence")).collect()[0][0] or 0
        hi_t = self.tombstones().agg(F.max("sequence")).collect()[0][0] or 0
        return max(hi_b, hi_t)

    def max_sequence(self) -> int:
        """High-water mark from the ``_max_seq.json`` side-file — O(1), no
        full-table aggregation in the write path (the r2 version paid two
        table scans per append). Falls back to (and repairs from) the scan
        when the side-file is absent — e.g. a store written by an older
        version, or a compact() swap that raced a crash. Single-writer, like
        the reference's global sequence counter; a multi-writer deployment
        would move this into a transaction log (Delta) or a conditional put."""
        if os.path.exists(self._hwm_path):
            try:
                with open(self._hwm_path, encoding="utf-8") as f:
                    return int(json.load(f)["max_sequence"])
            except (ValueError, KeyError, OSError, TypeError):
                pass  # corrupt side-file (incl. null / non-object JSON):
                # repair from the scan below
        hi = self._scan_max_sequence()
        # REPAIR only from the lease-OWNING THREAD: an unleased reader racing
        # a writer could otherwise os.replace a stale-low mark AFTER the
        # writer's reserve (its scan never sees the in-flight rows), and the
        # next append would reuse the writer's sequence range. Checking the
        # depth counter alone re-opened the same race intra-process (ADVICE
        # r9): a reader THREAD saw another thread's held lease as its own.
        # Readers just return the scanned value; the next leased writer
        # persists it.
        if self._lease_depth > 0 and self._lease_tid == threading.get_ident():
            self._write_hwm(hi)
        return hi

    def _write_hwm(self, hi: int) -> None:
        tmp = self._hwm_path + ".tmp"
        os.makedirs(self.path, exist_ok=True)
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"max_sequence": int(hi)}, f)
        os.replace(tmp, self._hwm_path)  # atomic on POSIX

    # -- writes -------------------------------------------------------------

    def append_blocks(
        self, blocks: DataFrame, resequence: bool = True, pin: bool = True,
        sequences: tuple[int | None, int | None] | None = None,
    ) -> int:
        """S1: append a batch. With ``resequence``, incoming sequences are
        shifted above the store's current max (write order = MVCC order).
        Returns the new high-water sequence, derived from the batch's (min,
        max) ``sequences`` when the caller knows them, else from one
        aggregation over the *incoming batch* (not a store rescan).

        Crash ordering (VERDICT r4 §Wrong #5): the mark is RESERVED — persisted
        to the side-file *before* the data write. A crash between the two
        leaves a too-high mark, which is only a harmless sequence gap; the
        reverse order left a stale-low mark that the next append would trust,
        reusing a sequence range and misordering MVCC. Same discipline as the
        reference's counter-before-commit (``src/storage/engine.zig:663-674``).

        ``pin`` (r13, guide §2.3/§5): by default the batch is persisted so
        the sequence agg and the data write see ONE evaluation — required
        for nondeterministic inputs, where a second evaluation could write
        sequences above the reserved mark. ``pin=False`` skips that persist
        for inputs the caller KNOWS are deterministic (projections of an
        already-persisted/checkpointed relation — the graph cache, a parse
        checkpoint): the agg then plans a column-PRUNED pass (only
        ``sequence`` is read; a wide ``content`` column never rides the
        pin's in-memory encode), and the write is the only full evaluation.
        Measured on the bench store path: the pin re-encoded the whole
        wide block relation a second time just to read min/max(sequence).
        """
        with self._writer_lease():
            base = self.max_sequence()
            pin = pin and sequences is None  # no agg, nothing to pin for
            pinned = blocks.persist() if pin else blocks
            try:
                lo, hi = sequences or pinned.agg(
                    F.min("sequence"), F.max("sequence")
                ).collect()[0]
                lo, hi = lo or 0, hi or 0
                if resequence:
                    out = pinned.withColumn(
                        "sequence", (F.col("sequence") - lo + base + 1).cast("bigint")
                    )
                    new_hi = hi - lo + base + 1
                else:
                    out = pinned
                    new_hi = max(hi, base)
                self._write_hwm(new_hi)  # reserve first — see docstring
                # explicit, not just mark-keyed: resequence=False can leave
                # the mark unchanged (incoming max <= current), which would
                # key a stale hit
                self._invalidate_snapshot()
                self._lease_renew()  # the agg above may have eaten lease time
                out.write.mode("append").partitionBy("codebase").parquet(
                    self._blocks_dir
                )
            finally:
                if pin:
                    pinned.unpersist()
            # invalidate AGAIN after the write commits: with an unchanged
            # mark, a concurrent reader that snapshotted DURING the write
            # would otherwise have re-populated the cache with the
            # pre-write visible set and served it until the next mark bump
            self._invalidate_snapshot()
            return new_hi

    def append_edges(
        self, edges: DataFrame, assume_endpoints_exist: bool = False
    ) -> None:
        """S2: endpoints must exist in the *visible* snapshot at insert time.
        Missing provenance columns (plain (src, dst, edge_type) callers) are
        filled with NULLs — such edges are never epoch-shadowed.

        The endpoint check is two semi-joins keyed by src/dst — the correct
        100 TB shape (the id set outgrows any broadcast), but it shuffles
        the incoming edge relation twice. ``assume_endpoints_exist=True``
        skips it for relations that are endpoint-valid BY CONSTRUCTION
        (``resolve_and_build``'s edges, re-materializing an existing store's
        ``visible_edges()``, or a fixture already restricted to visible
        endpoints); raw parser output and any user-supplied edges must keep
        the default — unresolved references genuinely dangle there."""
        for name, typ in (
            ("codebase", "string"), ("src_file", "string"), ("ingest_seq", "bigint")
        ):
            if name not in edges.columns:
                edges = edges.withColumn(name, F.lit(None).cast(typ))
        checked = edges.where(F.col("src") != F.col("dst"))
        if not assume_endpoints_exist:
            ids = self.snapshot().select("id")
            checked = (
                checked.join(ids, checked.src == ids.id, "left_semi")
                .join(ids, checked.dst == ids.id, "left_semi")
            )
        with self._writer_lease():
            self._lease_renew()
            checked.select(*_EDGE_COLS).write.mode("append").parquet(
                self._edges_dir
            )

    def delete_blocks(self, block_ids: list[str]) -> None:
        """S3: tombstones with a fresh sequence above everything current.
        Driver-side list API — for small explicit batches (the CLI `delete
        <id>` path). Bulk deletes go through :meth:`tombstone_where`."""
        with self._writer_lease():
            seq = self.max_sequence() + 1
            self._write_hwm(seq + max(len(block_ids) - 1, 0))  # reserve-then-write
            self._invalidate_snapshot()
            tomb = self.spark.createDataFrame(
                [
                    (b, seq + i, (seq + i) * 1000)
                    for i, b in enumerate(sorted(block_ids))
                ],
                _EMPTY_TOMB,
            )
            tomb.write.mode("append").parquet(self._tomb_dir)

    def tombstone_where(
        self, predicate: Column | str, visible: DataFrame | None = None
    ) -> None:
        """S3 at scale: tombstone every *visible* block matching a predicate
        as one distributed job — no id list ever touches the driver
        (reference bulk delete: ``src/storage/engine.zig:1132-1174``).

        All tombstones in the batch share one fresh sequence above the
        current high-water mark; shadowing only needs tombstone.sequence >=
        the shadowed version's sequence, and a later re-put claims a higher
        sequence, so resurrection semantics are unchanged.

        ``visible`` is a persisted snapshot the caller took under the
        writer lease it still holds (sync's codebase view), so it equals
        :meth:`visible` here; the batch is drawn from it instead of
        re-deriving the MVCC view. Such a batch is change-bounded and is
        written as one file, not one per snapshot partition."""
        with self._writer_lease():
            seq = self.max_sequence() + 1
            self._write_hwm(seq)  # reserve-then-write (see append_blocks)
            self._invalidate_snapshot()
            self._lease_renew()  # the visible() scan below can be long
            tomb = (
                (self.visible() if visible is None else visible)
                .where(predicate)
                .select(
                    F.col("id").alias("block_id"),
                    F.lit(seq).cast("bigint").alias("sequence"),
                    F.lit(seq * 1000).cast("bigint").alias("deletion_timestamp"),
                )
            )
            if visible is not None:
                tomb = tomb.coalesce(1)
            tomb.write.mode("append").parquet(self._tomb_dir)

    def tombstone_codebase(self, codebase: str) -> None:
        """Unlink a workspace: partition-pruned scan + distributed tombstone
        write, constant driver memory at any store size."""
        self.tombstone_where(F.col("codebase") == codebase)

    # -- reads --------------------------------------------------------------

    def visible(self, codebase: str | None = None) -> DataFrame:
        """S4: the MVCC snapshot every query reads.

        ``codebase`` scopes the snapshot to one workspace by filtering the
        raw table BEFORE the last-writer-wins window. The plain
        ``visible().where(codebase=...)`` form cannot push the predicate past
        the window (it partitions by id, and Catalyst can't know codebase is
        functionally dependent on id), so the scan read every workspace; the
        pre-filter form reaches the parquet scan as a PartitionFilter —
        workspace queries on a multi-tenant store prune to their partition.
        Equivalent because every version of an id lives in one codebase:
        ids are md5(codebase/unit_id) (``sources/ingest.py resolve_and_build``),
        mirroring the reference's content-addressed block ids
        (``src/core/types.zig:137-151``). Plan-asserted in
        tests/test_scale_fixes.py."""
        with self._pin_root():  # blocks + tombstones from ONE version root
            raw = self.blocks_raw()
            if codebase is not None:
                raw = raw.where(F.col("codebase") == codebase)
            return visible_blocks(raw, self.tombstones())

    def snapshot(self) -> DataFrame:
        """The visible() snapshot, persisted once per (session, store,
        high-water mark) — the memtable-view analogue for repeated reads
        inside one session (reference ``src/storage/engine.zig`` serves
        repeated reads from the in-memory memtable the same way).

        Daemon reads whose predicate cannot pass the per-id MVCC aggregate
        (name/path lookups, search, filters, traversals) and multi-read
        flows (endpoint checks, edge visibility) read this: over
        :meth:`visible` each such read re-aggregates every version in
        scope. Use :meth:`visible` only when the predicate commutes with
        the aggregate and pushdown is the point: an id lookup, or a
        partition-pruned ``visible(codebase)`` scan. Invalidation is
        automatic: every block/tombstone write bumps the high-water mark
        first, keying this cache off the old entry. This cache is
        spill-backed (MEMORY_AND_DISK) and session-local; at cluster scale
        materialize_bucketed plays its role."""
        return self._persisted("blocks", self.visible)

    def _persisted(self, kind: str, build) -> DataFrame:
        """``build()`` persisted once per (session, store, kind, mark,
        version root); a miss unpersists the store's views of other marks
        or roots. The root is in the key because another process's compact
        flips it without moving the mark, and its second compact GCs the
        old files a spilled partition would be recomputed from. The view
        keeps ``defaultParallelism`` partitions, so a read of it is one
        task per core: AQE cannot coalesce a cached plan's output, and the
        session's shuffle partition count is curation's to keep."""
        me = (id(self.spark), os.path.abspath(self.path))
        key = (*me, kind, self.max_sequence(), self._root())
        hit = _SNAPSHOT_CACHE.get(key)
        if hit is not None:
            return hit
        for k in [k for k in _SNAPSHOT_CACHE if k[:2] == me and k[3:] != key[3:]]:
            stale = _SNAPSHOT_CACHE.pop(k, None)  # racing evictors: 2nd no-ops
            if stale is not None:
                stale.unpersist()
        snap = build().coalesce(self.spark.sparkContext.defaultParallelism).persist()
        _SNAPSHOT_CACHE[key] = snap
        return snap

    def _invalidate_snapshot(self) -> None:
        """Drop this store's cached snapshot (compact() swaps data files
        without changing the high-water mark, so the mark alone can't key
        the invalidation there)."""
        me = (id(self.spark), os.path.abspath(self.path))
        for k in [k for k in _SNAPSHOT_CACHE if k[:2] == me]:
            stale = _SNAPSHOT_CACHE.pop(k, None)  # racing evictors: 2nd no-ops
            if stale is not None:
                stale.unpersist()

    def visible_edges(self) -> DataFrame:
        """Edges with both endpoints visible AND not epoch-shadowed.

        Endpoint rule: endpoints existed at insert time (append_edges
        enforces it), and in MVCC an id only becomes invisible via a
        tombstone — so it suffices to ANTI-join against the
        tombstoned-and-not-resurrected id set. That set is delete-rate-sized
        (tiny), so both anti-joins broadcast and the edge table never
        shuffles, at any store size.

        Epoch rule (incremental sync): when a file is re-ingested, its new
        edges carry the new batch's ingest_seq and a file_state row records
        that epoch; edges of the same (codebase, src_file) from an OLDER
        epoch are shadowed — re-syncing never duplicates a surviving edge
        and drops edges the new file version no longer has (even when both
        endpoint blocks still exist). file_state is file-count-sized, so
        this is a third broadcast anti-join; legacy edges without provenance
        are exempt."""
        with self._pin_root():  # edges/tombstones/file_state from ONE root
            ids = self.snapshot().select("id")
            tomb_ids = self.tombstones().select("block_id").distinct()
            invisible = tomb_ids.join(
                ids, tomb_ids.block_id == ids.id, "left_anti"
            )
            e = self.edges()
            e = e.join(
                F.broadcast(invisible), e.src == invisible.block_id, "left_anti"
            ).join(F.broadcast(invisible), e.dst == invisible.block_id, "left_anti")
            st = self.current_file_state().select(
                F.col("codebase").alias("_cb"),
                F.col("file_path").alias("_fp"),
                F.col("ingest_seq").alias("_epoch"),
            )
            return e.join(
                F.broadcast(st),
                (e.codebase == F.col("_cb"))
                & (e.src_file == F.col("_fp"))
                & (e.ingest_seq < F.col("_epoch")),
                "left_anti",
            )

    def edges_snapshot(self) -> DataFrame:
        """The visible_edges() view, persisted once per (session, store,
        high-water mark, root) — the edge-side twin of :meth:`snapshot`.

        Why it exists (r10, the e2e_show profile): every traversal
        re-derived visible_edges from scratch — three broadcast anti-joins,
        each becoming its own AQE job — so a ONE-hop callers query ran ~20
        Spark jobs, and per-job overhead (not data) dominated the daemon's
        show latency. The persisted frame plans as one InMemoryTableScan.
        Invalidation matches snapshot(): edge/block/tombstone appends bump
        the high-water mark (reserve-then-write), compact flips the root —
        either changes the key; _invalidate_snapshot drops both caches."""
        return self._persisted("edges", self.visible_edges)

    # -- cluster-scale layout ----------------------------------------------

    def materialize_bucketed(self, table_prefix: str, buckets: int = 32) -> None:
        """Write the snapshot as *bucketed* tables (blocks by id, edges by
        src): multi-hop edge-edge joins and id-keyed lookups then run
        without a shuffle exchange — the co-located-join layout a 100 TB
        deployment would maintain. (Plain parquet files can't carry bucket
        metadata; this uses the session catalog's saveAsTable.)"""
        import shutil
        from urllib.parse import urlparse

        spark = self.spark
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (f"{table_prefix}_blocks_b", f"{table_prefix}_edges_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            # a dropped-but-orphaned location (e.g. from a previous session)
            # blocks managed-table creation — clear it
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        # repartition BY THE BUCKET COLUMN first (Spark's hash partitioning
        # and bucket assignment are both Murmur3 on the column): every
        # output task then writes exactly ONE bucket file. Without it each
        # input task fans out into up to `buckets` concurrent parquet
        # writers, each buffering a row group — the r11 sf10 (100x)
        # rehearsal OOM'd a 16g heap exactly here. Same discipline a real
        # cluster write uses; also collapses the file count from
        # n_tasks x buckets to `buckets`.
        from pyspark.sql import functions as F

        # SEQUENTIAL writes (r13: reverts the r12 two-thread overlap). The
        # r12 round submitted the two writes from a ThreadPoolExecutor per
        # guide §2.6 — but both jobs are shuffle-writing (repartition by the
        # bucket column) and each alone saturates the pool's sort/spill
        # memory and I/O, so "overlap independent jobs" degraded into two
        # saturating jobs contending: the driver measured store_materialize
        # 13.5 s (r11, sequential) -> 16.6/17.4 s (r12, threaded) on BOTH
        # its core-count legs (scaling ratio 0.95 — core-insensitive, so
        # not host noise). §2.6 applies when one job's TAIL leaves the pool
        # idle; a back-to-back pair of full-width shuffles has no such tail
        # to back-fill. Verified by an interleaved A/B on a stamped-quiet
        # box this round (see OPTIMIZATION_r13.md).
        snap = self.snapshot()
        edges = self.visible_edges()
        self.spark.sparkContext.setJobDescription(
            f"materialize_bucketed: {table_prefix}_blocks_b"
        )
        snap.repartition(buckets, F.col("id")).write.bucketBy(
            buckets, "id"
        ).sortBy("id").saveAsTable(f"{table_prefix}_blocks_b")
        self.spark.sparkContext.setJobDescription(
            f"materialize_bucketed: {table_prefix}_edges_b"
        )
        edges.repartition(buckets, F.col("src")).write.bucketBy(
            buckets, "src"
        ).sortBy("src").saveAsTable(f"{table_prefix}_edges_b")
        self.spark.sparkContext.setJobDescription(None)

    # -- maintenance --------------------------------------------------------

    def compact(self) -> None:
        """Rewrite to the visible snapshot only (drops shadowed versions and
        consumed tombstones) — the compaction analogue, run as a batch job.

        Publication is a versioned-root pointer flip (r9): all five tables
        are fully written under a brand-new version root *while the live
        store is untouched*, then `_current.json` is atomically os.replace'd
        to point at it. A crash anywhere before the flip leaves the live
        store byte-identical (the orphan root is GC'd by the next successful
        compact); there is no partial-swap state at all. The PREVIOUS root
        is retained for one full compact cycle before GC, so concurrent
        readers whose plans listed the old files finish cleanly — reader
        isolation is the point of the layout (fault-tested in
        tests/test_fault_injection.py). On an object store this is exactly
        write-new-prefix + pointer flip (or a Delta REPLACE transaction).

        Runs under the writer lease with a compaction-sized TTL, renewed at
        every phase boundary — a concurrent append during the rewrite would
        base its sequence range on a root about to be superseded."""
        with self._writer_lease(ttl=600.0):
            self._compact_locked()

    def _compact_locked(self) -> None:
        old_root = self._root()
        new_version = f"v-{uuid.uuid4().hex[:12]}"
        new_root = os.path.join(self.path, new_version)
        # reads resolve the CURRENT root; writes go ONLY under the new one —
        # recomputation after an executor loss re-reads the intact live store
        self.visible().write.partitionBy("codebase").parquet(
            os.path.join(new_root, "blocks")
        )
        self._lease_renew()  # the block rewrite is the long pole; re-arm
        self.visible_edges().write.parquet(os.path.join(new_root, "edges"))
        self._lease_renew()  # re-arm between rewrites (ADVICE r8: a compact
        # stalling past the TTL must not reopen the steal window)
        # file_state folds to its latest row per file (epoch history consumed
        # along with the stale edges it shadowed); ref_names to current epochs
        self.current_file_state().write.parquet(os.path.join(new_root, "file_state"))
        self.current_ref_names().write.parquet(os.path.join(new_root, "ref_names"))
        # consumed tombstones: the new root starts with an empty table
        self.spark.createDataFrame([], _EMPTY_TOMB).write.parquet(
            os.path.join(new_root, "tombstones")
        )
        self._lease_renew()  # re-arm before the flip + GC phase
        # atomic publish: one os.replace of the pointer file
        tmp = f"{self._current_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"version": new_version}, f)
        os.replace(tmp, self._current_path)
        # GC: keep the new root and the immediately-previous one (the grace
        # copy for in-flight readers); anything older — including orphans of
        # crashed compacts — goes. Compacts serialize under the writer
        # lease, so no GC'd root can be another compact's in-progress write.
        for d in os.listdir(self.path):
            full = os.path.join(self.path, d)
            if (
                d.startswith("v-")
                and os.path.isdir(full)
                and full not in (new_root, old_root)
            ):
                shutil.rmtree(full, ignore_errors=True)
        if old_root != self.path:
            # flat legacy tables (pre-first-compact layout) are ≥2 compacts
            # old once a versioned root is itself being superseded
            for d in ("blocks", "edges", "tombstones", "file_state", "ref_names"):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        # same visible set, new data files: a cached snapshot would re-read
        # the superseded paths on cache-partition eviction
        self._invalidate_snapshot()
