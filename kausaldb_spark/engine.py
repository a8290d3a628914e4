"""Engine facade — the library API mirroring the reference's QueryEngine
(``src/kausaldb.zig:29-45``), with query statistics (X4) and a result cache
(X1).

Every answer runs once, when the call is made: it is collected into an
Arrow table and handed back as a DataFrame over those rows
(``createDataFrame(table, schema)``, a local relation, so reading,
filtering or limiting it starts no Spark job).

Cache semantics (``src/query/cache.zig:26-103,181-346``): LRU + TTL keyed by
the query signature, holding owned result rows, as the reference does: an
entry is the answer's Arrow table. The reference drops every entry on any
mutation; here the cache records the store's high-water mark
(``BlockStore.max_sequence``) it was filled at and empties itself when the
mark moves. Every block or tombstone write reserves a new mark before it
touches a data file, whichever engine or process makes it, so no write path
has to remember to invalidate. ``compact`` keeps the mark and the visible
set, and cached rows read no files, so the version root is not part of the
key. Every keyed answer is bounded by the reference's own limits (find
1,000, keyword 500, traverse 10,000, trace 100 paths; a ranked search by
its k), and so is every uncached one (filter 10,000).

Statistics (``src/query/engine.zig:66-131``): per-type counters + latency —
kept driver-side (cheap, exact); a call's latency includes running it. A
``with_stats`` query also counts its answer's rows and, for a filter, the
visible blocks its scan read; both land before the call returns.
"""

from __future__ import annotations

import json
import time
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from kausaldb_spark.operators import context as cx
from kausaldb_spark.operators import filtering as flt
from kausaldb_spark.operators import lookup as lk
from kausaldb_spark.operators import traversal as tv
from kausaldb_spark.session import local_frame
from kausaldb_spark.sources import ingest as ing
from kausaldb_spark.storage import BlockStore

CACHE_MAX_ENTRIES = 1000   # src/query/cache.zig defaults
CACHE_TTL_SEC = 30 * 60

# Workspace registry lives IN the store as a config block with a fixed id —
# the reference's exact pattern (deterministic metadata BlockId 0x111...1 +
# JSON content, src/workspace/manager.zig:38-54,295-343); MVCC last-writer-
# wins gives registry updates for free.
REGISTRY_BLOCK_ID = "1" * 32
REGISTRY_CODEBASE = "__workspace__"

# the columns of a traversal answer (traverse, find_callers/callees/
# references); a name with no anchor answers an empty frame of this schema
_TRAVERSE_COLS = (
    ("id", "string"), ("depth", "int"), ("unit_type", "string"),
    ("unit_id", "string"), ("codebase", "string"), ("source_uri", "string"),
    ("content", "string"),
)


def _arrow_table(df: DataFrame):
    """``df.toArrow()``, run through ``collect``: ``toArrow`` runs the plan
    as an RDD, so a top-k merges in one more stage and driver-held rows
    cost a job; ``collect`` merges on the driver and reads them in place."""
    rows = df.collect()
    if not rows:
        return to_arrow_schema(df.schema).empty_table()
    return LocalDataToArrowConversion.convert(rows, df.schema, False)


def _bare_of_unit():
    """The bare name a stored block defines: its unit_id's last `:`
    segment, then that segment's last `.` part."""
    entity = F.element_at(F.split(F.col("unit_id"), ":"), -1)
    return F.element_at(F.split(entity, r"\."), -1)


@dataclass
class QueryStats:
    queries_by_type: dict[str, int] = field(default_factory=dict)
    total_latency_ns: int = 0
    total_queries: int = 0
    cache_hits: int = 0
    cache_misses: int = 0
    # X4 scan/match parity (r6): the reference reports blocks_scanned +
    # matches per filtered query (src/query/filtering.zig:199-296) and
    # storage read counters (src/query/engine.zig:66-131). Fed by the
    # with_stats=True query variants — see KausalEngine.filtered /
    # traverse.
    rows_scanned: int = 0
    rows_matched: int = 0
    started_at: float = field(default_factory=time.monotonic)

    def record(self, qtype: str, latency_ns: int) -> None:
        self.queries_by_type[qtype] = self.queries_by_type.get(qtype, 0) + 1
        self.total_latency_ns += latency_ns
        self.total_queries += 1

    @property
    def average_query_latency_ns(self) -> float:
        return self.total_latency_ns / self.total_queries if self.total_queries else 0.0

    @property
    def queries_per_second(self) -> float:
        dt = time.monotonic() - self.started_at
        return self.total_queries / dt if dt > 0 else 0.0


class KausalEngine:
    """put/find/traverse/filter/search over a BlockStore."""

    def __init__(self, spark: SparkSession, store_path: str):
        self.spark = spark
        self.store = BlockStore(spark, store_path)
        self.stats = QueryStats()
        # key -> (filled at, Arrow table, schema), all of store mark _cache_mark
        self._cache: OrderedDict[tuple, tuple] = OrderedDict()
        self._cache_mark: int | None = None
        # (mark, content) of this engine's last registry write
        self._registry_written: tuple[int | None, str] = (None, "")

    # -- workspace registry (src/workspace/manager.zig:38-54,113-187) -------

    def registry(self) -> dict[str, dict]:
        """Per-codebase link metadata: {name: {path, linked_at, last_sync_at,
        block_count, edge_count}} from the workspace-config block. While
        the store's mark is the one this engine's last registry write
        returned, the block holds what that write wrote (it held the writer
        lease, so no other write landed in between), and no store read
        runs; each call returns a fresh dict."""
        mark, content = self._registry_written
        if mark != self.store.max_sequence():
            rows = lk.find_block(
                self.store.visible(REGISTRY_CODEBASE), REGISTRY_BLOCK_ID
            ).select("content").collect()
            if not rows:
                return {}
            content = rows[0][0]
        try:
            return json.loads(content).get("codebases", {})
        except (ValueError, AttributeError):
            return {}

    def _save_registry(self, reg: dict[str, dict]) -> None:
        content = json.dumps({"version": 1, "codebases": reg}, sort_keys=True)
        block = local_frame(
            self.spark, [(
                REGISTRY_BLOCK_ID, 0, "workspace://metadata", "workspace_config",
                "workspace://metadata", REGISTRY_CODEBASE, "",
                '{"type":"workspace_config"}', content,
            )],
            "id string, sequence bigint, source_uri string, unit_type string,"
            " unit_id string, codebase string, file_path string,"
            " metadata_json string, content string",
        )
        # resequence → last-writer-wins; a literal row's range is known
        mark = self.store.append_blocks(block, sequences=(0, 0))
        self._registry_written = (mark, content)

    def list_codebases(self) -> list[dict]:
        """`kausal list`: what is linked, since when, how big
        (src/workspace/manager.zig:208-222)."""
        return [
            {"name": name, **info} for name, info in sorted(self.registry().items())
        ]

    def _codebase_counts(self, codebase: str) -> dict[str, int]:
        """Visible blocks of ``codebase`` and visible edges leaving them,
        recounted from the whole store."""
        cb_ids = self.store.visible(codebase).select("id")
        e = self.store.visible_edges()
        return {
            "blocks": cb_ids.count(),
            # only edges whose source lives in the linked codebase — not the
            # whole store's edge count
            "edges": e.join(cb_ids, e.src == cb_ids.id, "left_semi").count(),
        }

    def _file_state(self, codebase: str) -> dict[str, tuple[str | None, int]]:
        """{file_path: (content_hash, ingest_seq)} of the codebase's current
        file state; a NULL hash marks a removed file."""
        return {
            r["file_path"]: (r["content_hash"], r["ingest_seq"])
            for r in self.store.current_file_state()
            .where(F.col("codebase") == codebase)
            .select("file_path", "content_hash", "ingest_seq")
            .collect()
        }

    def _path_filter(
        self, df: DataFrame, paths, keep: bool, col: str = "file_path"
    ) -> DataFrame:
        """``col`` ∈ paths (keep) / ∉ paths (drop) without embedding an
        unbounded literal list in the Catalyst plan — the measured
        plan-analysis blowup traversal's FRONTIER_ISIN_MAX switch exists
        for (traversal.py:47-50). Small sets stay isin (codegen, no join);
        past the threshold the set becomes a broadcast semi/anti join, so
        a 10k-changed-file monorepo sync keeps O(1)-size plans. ``col``
        defaults to file_path; sync also filters names with it.

        Null policy (ADVICE r9 — the two branches must agree): a NULL
        value belongs to NO set, so keep-mode drops it and drop-mode keeps
        it — exactly the semi/anti-join behavior. The isin branch
        coalesces its three-valued NULL to false so a null row can't flip
        outcome with the size of the set."""
        paths = list(paths)
        if len(paths) <= 1000:
            pred = F.coalesce(F.col(col).isin(paths), F.lit(False))
            return df.where(pred if keep else ~pred)
        pf = local_frame(self.spark, [(p,) for p in paths], f"{col} string")
        return df.join(F.broadcast(pf), col, "left_semi" if keep else "left_anti")

    # -- mutations (each moves the store's mark, which empties the result
    # cache: the reference invalidates on mutation, src/query/engine.zig:493-502)

    def link_codebase(self, root: str, codebase: str) -> dict[str, int]:
        """The CLI `link` flow (§3.3): a sync that re-ingests every file.
        Stored hashes are ignored, so every file on disk counts as changed;
        the commit is :meth:`sync_codebase`'s, which describes both verbs.
        The registry entry keeps its first ``linked_at``."""
        return self._ingest(codebase, root, every_file=True)

    def _record_refs(
        self, codebase: str, rel_paths: list[str], raw_edges, base: int
    ) -> None:
        """Append the inverted reference index rows for freshly-parsed files:
        distinct (file, referenced bare name) from the raw edges + a
        name=NULL sentinel per parsed file (coverage marker — a file that
        references nothing is still indexed). Sync's which-files-must-
        re-resolve lookup then joins this index instead of token-scanning
        every stored block's content."""
        sent = local_frame(
            self.spark, [(codebase, rel, None, base) for rel in rel_paths],
            "codebase string, file_path string, name string, ingest_seq bigint",
        )
        refs = raw_edges.select(
            F.lit(codebase).alias("codebase"),
            "file_path",
            F.col("dst_name").alias("name"),
            F.lit(base).cast("bigint").alias("ingest_seq"),
        ).distinct()
        self.store.record_ref_names(sent.unionByName(refs))

    def sync_codebase(self, codebase: str, root: str | None = None) -> dict[str, int]:
        """Bring the store's copy of a source tree up to date: the one
        commit path of both `sync` and `link`. The verbs differ only in
        which files count as changed: a sync hash-diffs the tree against the
        stored file_state and re-parses only files whose hash moved; a link
        (:meth:`link_codebase`) ignores the stored hashes and re-parses every
        file on disk. Either way, a stored file no longer on disk is
        removed: its blocks are tombstoned and its file_state row gets a
        NULL hash. A no-op sync reads file bytes but parses nothing and
        appends no blocks. (The reference re-ingests the whole tree on
        both verbs, src/workspace/manager.zig:113-205,248-273 — change
        detection is the at-monorepo-scale upgrade its metadata tracking
        points toward.)

        One commit order: tombstones of the shadowed files' old versions →
        blocks → edges → ref_names → file_state → registry. A crash before
        the file_state write leaves the old hashes, so the retry re-parses
        the same files; every file whose file_state row is current also has
        its ref_names sentinel.

        One leased view: the whole commit, from the state diff to the
        registry write, holds the writer lease, and the codebase's MVCC
        view ``visible(codebase)`` is persisted ONCE (one partition per core,
        so each read of it is one task per core). No other writer can
        append meanwhile, so that one view serves every read of the old
        state: the old definitions, the local definitions of candidate
        files, the tombstone batch, and the kept files' symbols and block
        ids that re-parsed edges resolve against (stale edges of
        re-ingested files are epoch-shadowed, BlockStore.visible_edges).
        Each of these reads runs only when the stored file state says it
        can matter: a commit that keeps no stored file (a link) reads no
        old definitions, symbols or ids, and one whose shadowed files have
        no stored state writes no tombstone batch. The view is released
        when the commit ends. The commit counts itself: the batch's edges
        are endpoint-valid by construction (resolve_and_build), its sequence
        range and distinct ids are observed on its checkpoint, the edge rows
        on their write, and the kept files add their share in one action
        (:meth:`_kept_counts`); the sums equal :meth:`_codebase_counts`.

        Convergence (sync ≡ fresh link, ADVICE r4 #1): resolution of a bare
        name reads only the set of unit_ids that define it (a definition in
        the same file first, else the unique one in the codebase). So an
        *unchanged* file can rebind only on a name whose set of defining
        units changed: the affected names are the symmetric difference of
        the (bare name, unit_id) definitions in the old versions of
        changed/removed files and in the new versions of changed files.
        A body-only edit affects no name and re-resolves nothing; adding,
        removing or moving a definition (deleting one of two same-named
        functions makes the other the unique global target) affects its
        name. Every unchanged file that references an affected name and
        does not define it itself (file-local-first resolution) is
        re-parsed and re-resolved too ("files_reresolved" in the stats).
        The candidate lookup reads the inverted ``ref_names`` index
        maintained at every commit (change-bounded: one row per (file,
        referenced name)); stores predating the index fall back to a token
        scan of stored block content (corpus-bounded, conservative)."""
        return self._ingest(codebase, root, every_file=False)

    def _ingest(
        self, codebase: str, root: str | None, every_file: bool
    ) -> dict[str, int]:
        """sync_codebase's commit; ``every_file`` counts every file on disk
        as changed (link)."""
        with self.store._writer_lease():
            reg = self.registry()
            if root is None:
                if codebase not in reg:
                    raise ValueError(f"codebase {codebase!r} is not linked")
                root = reg[codebase]["path"]
            files = ing.list_files(root)
            cur = {
                r["file_path"]: r["content_hash"]
                for r in ing.file_hashes(self.spark, files).collect()
            }
            state = self._file_state(codebase)
            stored = {rel: h for rel, (h, _) in state.items()}
            changed = sorted(
                rel for rel, h in cur.items() if every_file or stored.get(rel) != h
            )
            removed = sorted(
                rel for rel, h in stored.items() if h is not None and rel not in cur
            )
            stats = {
                "files_changed": len(changed), "files_removed": len(removed),
                "files_unchanged": len(cur) - len(changed),
            }
            if changed or removed or every_file:
                view = self.store.visible(codebase).coalesce(
                    self.spark.sparkContext.defaultParallelism
                ).persist()
                try:
                    stats.update(self._sync_changes(
                        codebase, files, cur, state, changed, removed, view
                    ))
                finally:
                    view.unpersist()
            elif codebase not in reg:
                return stats
            now = int(time.time())
            entry = reg.setdefault(codebase, {"linked_at": now})
            entry.update(path=root, last_sync_at=now)
            if "blocks" in stats:
                entry.update(block_count=stats["blocks"], edge_count=stats["edges"])
            self._save_registry(reg)
        return stats

    def _sync_changes(
        self, codebase: str, files: list[tuple[str, str]], cur: dict,
        state: dict, changed: list[str], removed: list[str], view: DataFrame,
    ) -> dict[str, int]:
        """Write one commit's changes; returns files_reresolved, blocks and
        edges. ``view`` is the codebase's persisted pre-commit MVCC view,
        taken under the writer lease the caller holds."""
        abs_by_rel = dict((rel, ap) for ap, rel in files)
        affected = changed + removed
        epochs = {rel: seq for rel, (h, seq) in state.items() if h is not None}
        # stored files this commit leaves as they are; only these can rebind
        kept = epochs.keys() - set(affected)
        units_c = raw_c = None
        if changed:
            # materialize=True: one combined checkpoint = one parse pass
            units_c, raw_c = ing.parse_files(
                self.spark, [(abs_by_rel[rel], rel) for rel in changed],
                materialize=True,
            )
        # when it runs, this first action over the view also fills its
        # cache, before any write below changes the store
        names = self._changed_names(view, affected, units_c) if kept else set()
        reresolve = (
            self._rebinding_files(codebase, view, names, affected, epochs, abs_by_rel)
            if names else []
        )

        touch = changed + reresolve  # files being re-ingested this commit
        shadowed = affected + reresolve
        # a file without stored state has no old version to shadow; an empty
        # batch would still add a tombstone join to every later visible()
        if not epochs.keys().isdisjoint(shadowed):
            self.store.tombstone_where(
                F.col("codebase") == codebase,
                visible=self._path_filter(view, shadowed, keep=True),
            )
        base = self.store.max_sequence()
        # the kept files' visible blocks; with none kept, limit(0) folds the
        # old view out of every plan below
        vis_rest = (
            self._path_filter(view, shadowed, keep=False) if kept else view.limit(0)
        )
        counts, blocks = {"blocks": 0, "edges": 0}, None
        if touch:
            if reresolve:
                units_x, raw_x = ing.parse_files(
                    self.spark,
                    [(abs_by_rel[rel], rel) for rel in reresolve],
                    materialize=True,
                )
                units = units_c.unionByName(units_x) if changed else units_x
                raw_edges = raw_c.unionByName(raw_x) if changed else raw_x
            else:
                units, raw_edges = units_c, raw_c
            file_index = local_frame(
                self.spark, [(i, rel) for i, rel in enumerate(touch)],
                "file_idx long, file_path string",
            )
            blocks, edges, batch = ing.resolve_and_build(
                units, raw_edges, codebase, base, file_index, checkpoint=True,
                extra_symbols=vis_rest.select(_bare_of_unit().alias("bare"), "unit_id", "id"),
            )
            self.store.append_blocks(
                blocks, resequence=False, sequences=(batch["lo"], batch["hi"])
            )
            # endpoint-valid by construction (resolve_and_build): no check
            written = Observation()
            self.store.append_edges(
                edges.observe(written, F.count(F.lit(1)).alias("n")),
                assume_endpoints_exist=True,
            )
            self._record_refs(codebase, touch, raw_edges, base)
            counts = {"blocks": batch["ids"], "edges": written.get["n"]}
        # re-resolved files keep their hash but move to the new epoch so
        # their superseded edges are shadowed (BlockStore.visible_edges)
        state_rows = (
            [(codebase, rel, cur[rel], base) for rel in changed]
            + [(codebase, rel, None, base) for rel in removed]
            + [(codebase, rel, cur[rel], base) for rel in reresolve]
        )
        self.store.record_file_state(
            local_frame(
                self.spark, state_rows,
                "codebase string, file_path string, content_hash string,"
                " ingest_seq bigint",
            )
        )
        if kept:
            more = self._kept_counts(
                codebase, vis_rest, blocks, {rel: epochs[rel] for rel in kept}
            )
            counts = {k: n + more[k] for k, n in counts.items()}
        return {"files_reresolved": len(reresolve), **counts}

    def _kept_counts(
        self, codebase: str, vis_rest: DataFrame, batch: DataFrame | None,
        epochs: dict[str, int],
    ) -> dict[str, int]:
        """In one action, the kept files' visible blocks (``vis_rest``) and
        their visible edges: at or after the file's epoch, from a block of
        ``vis_rest`` to one of it or of ``batch``. Read from the store as it
        is, so a block deleted since its file's ingest counts in neither."""
        st = local_frame(self.spark, sorted(epochs.items()), "_fp string, _epoch bigint")
        kept = vis_rest.select("id")
        live = kept if batch is None else kept.unionByName(batch.select("id"))
        e = self.store.edges().where(F.col("codebase") == codebase)
        e = (
            e.join(
                F.broadcast(st),
                (e.src_file == F.col("_fp")) & (e.ingest_seq >= F.col("_epoch")),
                "left_semi",
            )
            .join(kept, e.src == kept.id, "left_semi")
            .join(live, e.dst == live.id, "left_semi")
        )
        counted = Observation()
        vis_rest.select(F.lit(True).alias("_block")).unionByName(
            e.select(F.lit(False).alias("_block"))
        ).observe(
            counted,
            F.count_if("_block").alias("blocks"),
            F.count_if(~F.col("_block")).alias("edges"),
        ).write.format("noop").mode("overwrite").save()
        return counted.get

    def _changed_names(
        self, view: DataFrame, affected: list[str], units_c: DataFrame | None
    ) -> set[str]:
        """Bare names whose set of defining units a sync changes: the
        symmetric difference of the (bare, unit_id) definitions in the old
        versions of the affected files (from ``view``) and in the new
        versions of the changed files (``units_c``), in one action."""
        defs = self._path_filter(view, affected, keep=True).select(
            F.lit(False).alias("new"), _bare_of_unit().alias("bare"), "unit_id"
        )
        if units_c is not None:
            defs = defs.unionByName(units_c.select(
                F.lit(True).alias("new"),
                F.element_at(F.split(F.col("name"), r"\."), -1).alias("bare"),
                F.concat(F.col("file_path"), F.lit(":"), F.col("name")).alias("unit_id"),
            ))
        sides: dict[bool, set] = {False: set(), True: set()}
        for r in defs.collect():
            sides[r["new"]].add((r["bare"], r["unit_id"]))
        return {bare for bare, _ in sides[False] ^ sides[True]}

    def _rebinding_files(
        self, codebase: str, view: DataFrame, names: set[str],
        affected: list[str], epochs: dict[str, int], on_disk: dict,
    ) -> list[str]:
        """Unchanged files still on disk whose references may now bind to
        a different target: they reference an affected name and do not
        define it themselves.

        Candidates come from the inverted ref_names index rows at each
        file's current epoch (``epochs``): the rows of the affected names
        plus one sentinel per file, with no file_state window. Coverage =
        every current file has its name=NULL sentinel row; a partially
        indexed legacy store falls back to a token scan of the stored block
        content (corpus-bounded, conservative overapproximation), so it
        never silently misses candidates.

        Local-shadow exclusion (r9): resolution is file-local-FIRST
        (resolve_and_build coalesces uid_file before uid_global), so a file
        that itself defines bare name n can never change how it resolves n
        when OTHER files' defs of n change — re-resolving it is pure waste.
        Without this cut, touching any file that imports `std` cascaded
        into re-resolving every file in the codebase (each file references
        its own std import): the r9 ingest_incremental bench measured
        109/110 files re-resolved for a one-file touch. The cut is per
        (file, name): a file stays a candidate if ANY affected name it
        references is not locally shadowed."""
        refs = self.store.ref_names().where(F.col("codebase") == codebase)
        rows = [
            r for r in refs.where(F.col("name").isNull())
            .unionByName(self._path_filter(refs, names, keep=True, col="name"))
            .select("file_path", "name", "ingest_seq")
            .collect()
            if epochs.get(r["file_path"]) == r["ingest_seq"]  # current epoch
        ]
        skip = set(affected)
        if len({r["file_path"] for r in rows if r["name"] is None}) >= len(epochs):
            hits = {
                (r["file_path"], r["name"]) for r in rows
                if r["name"] is not None and r["file_path"] not in skip
            }
        else:
            tokens = self._path_filter(view, affected, keep=False).select(
                "file_path",
                F.explode(F.split(F.col("content"), "[^A-Za-z0-9_]+")).alias("tok"),
            )
            hits = {
                (r["file_path"], r["tok"])
                for r in self._path_filter(tokens, names, keep=True, col="tok")
                .distinct()
                .collect()
            }
        if not hits:
            return []
        defs = self._path_filter(
            view, {fp for fp, _ in hits}, keep=True
        ).select("file_path", _bare_of_unit().alias("tok"))
        local = {
            (r["file_path"], r["tok"])
            for r in self._path_filter(defs, names, keep=True, col="tok").collect()
        }
        return sorted({fp for fp, n in hits - local if fp in on_disk})

    def unlink_codebase(self, codebase: str) -> int:
        """Bulk unlink as ONE distributed tombstone job — no block-id list is
        ever collected to the driver (a 10M-block workspace unlinks in
        constant driver memory). Also drops the registry entry (the
        reference's unlink removes only metadata, manager.zig:190-205; ours
        tombstones the blocks too — the stronger cleanup its docstring
        defers to 'future versions')."""
        n = self.store.visible(codebase).count()
        if n:
            self.store.tombstone_codebase(codebase)
        reg = self.registry()
        if codebase in reg:
            del reg[codebase]
            self._save_registry(reg)
        return n

    def put_blocks(self, blocks: DataFrame) -> int:
        return self.store.append_blocks(blocks)

    def delete_blocks(self, block_ids: list[str]) -> None:
        self.store.delete_blocks(block_ids)

    # -- queries ------------------------------------------------------------

    def _timed(
        self, qtype: str, key: tuple | None, build, with_stats: bool = False
    ) -> DataFrame:
        """Answer with ``build()``'s rows, collected once into an Arrow
        table and returned as a local DataFrame; a keyed answer is served
        from, or kept in, the cache. ``with_stats`` counts rows and scan."""
        hit = None if key is None else self._cache_get(key)
        if hit is not None:
            self.stats.cache_hits += 1
            # a hit IS a served query: the per-type counters / QPS /
            # latency must include it (reference counts every query,
            # engine.zig:66-131) — its latency is the O(1) lookup
            self.stats.record(qtype, 0)
            table, schema = hit
        else:
            if key is not None:
                self.stats.cache_misses += 1
            t0 = time.monotonic_ns()
            df = build()
            table, schema = _arrow_table(df), df.schema
            if with_stats:
                # read off the finished plan, never waiting: no entry when
                # the optimiser removed the observed scan (a zero limit)
                seen = df._jdf.queryExecution().observedMetrics().get("rows_scanned")
                self.stats.rows_scanned += 0 if seen.isEmpty() else seen.get().getLong(0)
            if key is not None:
                self._cache_put(key, table, schema)
            self.stats.record(qtype, time.monotonic_ns() - t0)
        if with_stats:
            self.stats.rows_matched += table.num_rows
        return self.spark.createDataFrame(table, schema)

    def find_block(self, block_id: str) -> DataFrame:
        # visible(), not snapshot(): an id predicate commutes with the MVCC
        # aggregate and reaches the parquet scan as a pushed filter
        return self._timed(
            "find_block", None, lambda: lk.find_block(self.store.visible(), block_id)
        )

    def find_by_name(self, workspace: str, unit_type: str, name: str) -> DataFrame:
        return self._timed(
            "find_by_name",
            ("find_by_name", workspace, unit_type, name),
            lambda: lk.find_by_name(self.store.snapshot(), workspace, unit_type, name),
        )

    def find_by_file_path(self, workspace: str, file_path: str) -> DataFrame:
        return self._timed(
            "find_by_file_path",
            ("find_by_file_path", workspace, file_path),
            lambda: lk.find_by_file_path(self.store.snapshot(), workspace, file_path),
        )

    def keyword_search(self, query: str, threshold: float = 0.7, max_results: int = 500) -> DataFrame:
        return self._timed(
            "keyword_search",
            ("keyword_search", query, threshold, max_results),
            lambda: lk.keyword_search(self.store.snapshot(), query, threshold, max_results),
        )

    def ranked_search(self, terms: list[str], k: int = 20) -> DataFrame:
        """Multi-term ranked retrieval over block content
        (functions.text.term_match_topk): integer-exact
        (n_terms, total_tf, id) ordering, one scan + TakeOrdered — the
        multi-term extension of the reference's single-keyword scoring
        (src/query/operations.zig:421-437). Returns
        (id, unit_id, codebase, n_terms, total_tf, rank)."""
        from kausaldb_spark.functions.text import term_match_topk

        def build():
            vis = self.store.snapshot()
            top = term_match_topk(
                vis, list(terms), k=k, text_col="content", id_col="id"
            ).withColumnRenamed("doc_id", "id")
            return top.join(
                vis.select("id", "unit_id", "codebase"), "id"
            ).select(
                "id", "unit_id", "codebase", "n_terms", "total_tf", "rank"
            ).orderBy("rank")

        return self._timed(
            "ranked_search", ("ranked_search", tuple(terms), k), build
        )

    def filtered(
        self, expr: flt.Expr, offset: int = 0, max_results: int = 10_000,
        with_stats: bool = False,
    ) -> DataFrame:
        """F1-F5. ``with_stats=True`` also counts: rows_scanned = visible
        blocks examined (the reference's blocks_scanned — its filter loop
        walks every visible block, src/query/filtering.zig:199-296),
        rows_matched = rows out. Both paths scan the persisted snapshot
        (BlockStore.snapshot: a filter predicate cannot pass the MVCC
        aggregate, so parquet pushdown buys nothing); the scan-side count is
        an observe() on that scan (no extra job), which is precisely the
        reference's own cost model. Counters land in stats/status() when the
        call returns."""

        def build():
            vis = self.store.snapshot()
            if with_stats:
                vis = vis.observe("rows_scanned", F.count(F.lit(1)))
            return flt.filtered_query(vis, expr, offset, max_results)

        return self._timed("filtered", None, build, with_stats)

    def traverse(
        self,
        start_ids: list[str],
        direction: str = tv.OUTGOING,
        edge_filter: tv.EdgeFilter = tv.EdgeFilter.all(),
        max_depth: int = 10,
        max_results: int = tv.MAX_RESULTS_LIMIT,
        workspace: str | None = None,
        with_stats: bool = False,
    ) -> DataFrame:
        """T1/T9/T10: traversal joined back to visible blocks (+ optional
        workspace filter, reference F7). ``with_stats=True`` adds the
        result rows (after the workspace filter) to rows_matched — the
        frontier expansion itself runs eager per-level jobs whose
        visited-set size the traversal caps already bound, so the result
        count is the honest per-query stat."""

        def build():
            # the persisted session views (snapshot/edges_snapshot), not the
            # parquet-backed derivations: a 1-hop traversal otherwise re-ran
            # the 3 anti-joins + window as ~20 separate AQE jobs and per-job
            # overhead dominated the daemon's show latency (r10 profile:
            # 3.0 s -> ~1.2 s; pushdown buys nothing here — the block join
            # is a broadcast of the ≤10k reached ids either way)
            reached = tv.bfs(
                self.store.edges_snapshot(), start_ids, direction, edge_filter,
                max_depth, max_results,
            )
            out = reached.join(self.store.snapshot(), "id")
            if workspace:
                out = out.where(out.codebase == workspace)
            return out.select(*(c for c, _ in _TRAVERSE_COLS))

        key = (
            "traverse", tuple(sorted(start_ids)), direction, edge_filter,
            max_depth, max_results, workspace,
        )
        return self._timed("traverse", key, build, with_stats)

    def _no_anchor(self) -> DataFrame:
        """The answer to a callers/callees/references request whose name
        has no anchor: no rows, the columns of :meth:`traverse`, no plan
        over the store. A zero limit plans as an empty local relation, so
        reading it starts no Spark job."""
        return self.spark.range(1).select(
            *(F.lit(None).cast(t).alias(c) for c, t in _TRAVERSE_COLS)
        ).limit(0)

    def find_callers(self, workspace: str, name: str, max_depth: int = 1) -> DataFrame:
        anchors = [
            r["id"] for r in self.find_by_name(workspace, "function", name).collect()
        ] or [r["id"] for r in self.find_by_name(workspace, "type", name).collect()]
        if not anchors:
            return self._no_anchor()
        return self.traverse(
            anchors, tv.INCOMING, tv.EdgeFilter.include("calls", "calls_method"),
            max_depth, workspace=workspace,
        ).where("depth > 0")

    def find_callees(self, workspace: str, name: str, max_depth: int = 1) -> DataFrame:
        anchors = [
            r["id"] for r in self.find_by_name(workspace, "function", name).collect()
        ]
        if not anchors:
            return self._no_anchor()
        return self.traverse(
            anchors, tv.OUTGOING, tv.EdgeFilter.include("calls", "calls_method"),
            max_depth, workspace=workspace,
        ).where("depth > 0")

    def find_references(self, workspace: str, name: str, max_depth: int = 1) -> DataFrame:
        """T9: bidirectional traversal over reference-ish edge types
        (src/query/engine.zig:661-742)."""
        anchors = []
        for ut in ("function", "type", "const"):
            anchors += [r["id"] for r in self.find_by_name(workspace, ut, name).collect()]
        if not anchors:
            return self._no_anchor()
        return self.traverse(
            anchors, tv.BIDIRECTIONAL,
            tv.EdgeFilter.include("references", "imports", "depends_on"),
            max_depth, workspace=workspace,
        ).where("depth > 0")

    def trace_paths(
        self, workspace: str, from_name: str, to_name: str, max_depth: int = 10
    ) -> DataFrame:
        def one(name):
            for ut in ("function", "type"):
                rows = self.find_by_name(workspace, ut, name).collect()
                if rows:
                    return rows[0]["id"]
            return None

        a, b = one(from_name), one(to_name)
        if a is None or b is None:
            return self.spark.range(0).selectExpr("'' as path", "0 as depth")
        return self._timed(
            "trace", ("trace", a, b, max_depth),
            lambda: tv.find_paths_between(self.store.edges_snapshot(), a, b, max_depth=max_depth),
        )

    def context_query(self, q: cx.ContextQuery) -> dict[str, DataFrame]:
        # multi-read flow (anchors + per-rule expansions re-scan both
        # relations): the persisted session views, per snapshot()'s contract
        return cx.execute_context_query(
            self.store.snapshot(), self.store.edges_snapshot(), q
        )

    def register_sql_views(self, prefix: str = "kausal") -> None:
        """Expose the snapshot as SQL temp views: <prefix>_blocks (visible
        set), <prefix>_edges, <prefix>_blocks_raw — the reference has no SQL
        dialect, but on Spark the whole engine is queryable via spark.sql
        for free once the MVCC view is registered."""
        self.store.visible().createOrReplaceTempView(f"{prefix}_blocks")
        self.store.visible_edges().createOrReplaceTempView(f"{prefix}_edges")
        self.store.blocks_raw().createOrReplaceTempView(f"{prefix}_blocks_raw")

    def status(self) -> dict:
        return {
            "blocks_visible": self.store.snapshot().count(),
            # the visible_edges view, not raw edges(): epoch-shadowed and
            # dangling edge rows are invisible to every query and to the
            # registry's edge_count — status must agree with what queries see
            "edges": self.store.edges_snapshot().count(),
            "tombstones": self.store.tombstones().count(),
            "max_sequence": self.store.max_sequence(),
            "codebases": self.registry(),
            "queries": dict(self.stats.queries_by_type),
            "cache_hits": self.stats.cache_hits,
            "cache_misses": self.stats.cache_misses,
            # X4 parity: reference blocks_scanned / match counters
            # (src/query/filtering.zig:199-296, engine.zig:66-131) — fed by
            # with_stats=True queries, cumulative since engine start
            "rows_scanned": self.stats.rows_scanned,
            "rows_matched": self.stats.rows_matched,
            "avg_latency_ms": round(self.stats.average_query_latency_ns / 1e6, 2),
        }

    # -- cache plumbing -----------------------------------------------------

    def _cache_get(self, key: tuple):
        """``key``'s (Arrow table, schema), or None on a miss. The entries
        all belong to one store mark; once the mark moves, they go."""
        mark = self.store.max_sequence()
        if mark != self._cache_mark:
            self._cache.clear()
            self._cache_mark = mark
        ent = self._cache.get(key)
        if ent is None:
            return None
        ts, table, schema = ent
        if time.monotonic() - ts > CACHE_TTL_SEC:
            del self._cache[key]
            return None
        self._cache.move_to_end(key)
        return table, schema

    def _cache_put(self, key: tuple, table, schema) -> None:
        self._cache[key] = (time.monotonic(), table, schema)
        self._cache.move_to_end(key)
        while len(self._cache) > CACHE_MAX_ENTRIES:
            self._cache.popitem(last=False)
