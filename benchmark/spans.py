"""In-memory span tracer for the traced benchmark run.

``Tracer.install`` wraps, from outside the program, the public functions of
each layer (the package's modules): ``cli``, ``engine``, ``operators``,
``storage``, ``sources.ingest``, ``functions`` and ``sinks``. The benchmark
opens the root span of every operation itself (``server`` for a daemon
round trip, ``bench`` for link, sync, curate and verify).

A span records name, layer, start, end, parent, request id and thread. While
it is open it is the thread's Spark job group, so ``statusTracker`` can list
the jobs it started directly; ``harvest`` reads their stages from the live
status store (tasks, shuffle, spill, executor run time) right after each
operation, before ``spark.ui.retainedJobs`` can evict them. A span's Spark
counters cover its own jobs; subtree sums give the jobs a call caused.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "bench-span-"


@dataclass
class Span:
    id: int
    parent: int | None
    req: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    thread: str = ""
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    exec_run_ms: int = 0

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.req: int | None = None
        self._root: int | None = None  # span a request's server thread nests under
        self._root_layer = ""
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self._harvested = 0
        self._seen_stages: set[int] = set()

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(next(self._ids), parent, self.req, layer, name, 0.0,
                  thread=threading.current_thread().name)
        self.sc._jsc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sp.id}")
        stack.append(sp.id)
        sp.t0 = time.perf_counter()
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        prev = f"{GROUP_PREFIX}{stack[-1]}" if stack else None
        self.sc._jsc.setLocalProperty("spark.jobGroup.id", prev)
        self.spans.append(sp)

    @contextmanager
    def root(self, layer: str, name: str, **attrs):
        """A benchmark-side root span; spans opened on other threads while
        it is open (the daemon's handler) nest under it."""
        if not self.enabled:
            yield None
            return
        sp = self._open(layer, name)
        sp.attrs.update(attrs)
        self._root = self.req = sp.req = sp.id  # the request id is the root's
        self._root_layer = layer
        try:
            yield sp
        finally:
            self._root = self.req = None
            self._root_layer = ""
            self._close(sp)

    @contextmanager
    def span(self, layer: str, name: str):
        """A benchmark-side span inside the current one."""
        sp = self._open(layer, name)
        try:
            yield sp
        finally:
            self._close(sp)

    def wrap(self, owner, attr: str, layer: str, note=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``note(span, args,
        result, before)`` may add attributes; ``before`` is the value of
        ``note(None, args, None, None)`` taken when the call starts."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            before = note(None, args, None, None) if note else None
            sp = tracer._open(layer, attr)
            res = None
            try:
                res = fn(*args, **kwargs)
                return res
            finally:
                tracer._close(sp)
                if note:
                    note(sp, args, res, before)

        wrapper.__wrapped__ = fn
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def count(self, owner, attr: str, hit) -> None:
        """Count calls of ``owner.attr`` and those where ``hit(result)``."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            res = fn(*args, **kwargs)
            if tracer.enabled:
                tracer.counts[f"{attr}.calls"] += 1
                tracer.counts[f"{attr}.hits"] += int(bool(hit(res)))
            return res

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from kausaldb_spark import cli, sinks, storage
        from kausaldb_spark.engine import KausalEngine
        from kausaldb_spark.functions import curation, dedup
        from kausaldb_spark.operators import filtering, lookup, traversal
        from kausaldb_spark.sources import corpus, ingest

        def rows(sp, args, res, before):
            if sp is not None:
                sp.attrs["rows"] = res

        def n_files(sp, args, res, before):
            if sp is not None:
                sp.attrs["files"] = len(args[1])

        def snap_fill(sp, args, res, before):
            keys = set(storage._SNAPSHOT_CACHE)
            if sp is None:
                return keys
            if keys - before and self._root_layer == "server":
                # A missed snapshot is persisted lazily: its rebuild would
                # land in whichever job first reads it. In a request, fill
                # it here instead, so that the rebuild has a span of its own.
                with self.span("storage", "snapshot_fill"):
                    res.count()

        self.wrap(cli, "main", "cli")
        self.wrap(cli, "emit", "cli", rows)
        for name in ("find_by_name", "find_callers", "find_callees", "find_references",
                     "traverse", "trace_paths", "keyword_search", "ranked_search",
                     "filtered", "link_codebase", "sync_codebase", "registry",
                     "_save_registry", "_codebase_counts", "_record_refs"):
            self.wrap(KausalEngine, name, "engine")
        self.count(KausalEngine, "_cache_get", lambda r: r is not None)
        self.wrap(lookup, "find_by_name", "operators")
        self.wrap(lookup, "keyword_search", "operators")
        self.wrap(traversal, "bfs", "operators")
        self.wrap(traversal, "find_paths_between", "operators")
        self.wrap(filtering, "filtered_query", "operators")
        for name in ("visible", "visible_edges", "append_blocks", "append_edges",
                     "tombstone_where", "max_sequence", "record_file_state",
                     "record_ref_names", "current_file_state", "current_ref_names"):
            self.wrap(storage.BlockStore, name, "storage")
        self.wrap(storage.BlockStore, "snapshot", "storage", snap_fill)
        self.wrap(storage.BlockStore, "edges_snapshot", "storage", snap_fill)
        self.wrap(ingest, "list_files", "ingest")
        self.wrap(ingest, "file_hashes", "ingest")
        self.wrap(ingest, "parse_files", "ingest", n_files)
        self.wrap(ingest, "resolve_and_build", "ingest")
        self.wrap(curation, "curate_and_write", "functions")
        self.wrap(curation, "minhash_pairs_for", "functions")
        self.wrap(dedup, "components_from_pairs", "functions")
        self.wrap(corpus, "read_documents", "sources")
        self.wrap(sinks, "write_training_shards", "sinks")
        self.wrap(sinks, "verify_shards", "sinks")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- Spark counters -------------------------------------------------------

    def harvest(self) -> None:
        """Attach Spark job/stage counters to every span closed since the
        last harvest. Waits for the listener bus so the status store holds
        the finished jobs of those spans."""
        new = self.spans[self._harvested:]
        self._harvested = len(self.spans)
        if not new:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in new:
            for jid in tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{sp.id}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - evicted or never run
                        continue
                    sp.stages += 1
                    sp.tasks += st.numCompleteTasks()
                    sp.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    sp.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    sp.exec_run_ms += st.executorRunTime()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp), default=str) + "\n")


class SpanTree:
    """Parent/child index over the spans of a run."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.id, ()))
        return out

    def self_ms(self, sp: Span) -> float:
        """Duration minus the union of the child intervals."""
        ivs = sorted((c.t0, c.t1) for c in self.children.get(sp.id, ()))
        covered, end = 0.0, sp.t0
        for a, b in ivs:
            a, b = max(a, end), min(b, sp.t1)
            if b > a:
                covered += b - a
                end = b
        return sp.ms - covered * 1000.0

    def total(self, sp: Span, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.subtree(sp))

    def self_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += self.self_ms(s)
        return dict(out)
