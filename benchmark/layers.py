"""Per-layer metrics of a traced run, computed from its spans.

Every metric is reported on every workload; a layer the workload does not
reach reads 0. Times are means per call or per operation, so that a layer's
share of an end-to-end latency can be read off directly. Root spans are the
benchmark's own: ``server.request`` (one daemon round trip, attribute ``op``),
``bench.link``, ``bench.sync``, ``bench.curate`` and ``bench.verify``.
"""

from __future__ import annotations

from spans import Span, SpanTree

READ_OPS = ("find", "show", "trace", "search", "filter")

# name -> unit, in print order
METRICS: dict[str, str] = {
    "server.self_ms": "ms",
    "cli.emit_ms": "ms",
    "cli.emit_rows": "count",
    "engine.cache_hit_ratio": "ratio",
    "engine.find_by_name_ms": "ms",
    "engine.traverse_ms": "ms",
    "engine.trace_paths_ms": "ms",
    "engine.search_ms": "ms",
    "engine.filtered_ms": "ms",
    "operators.bfs_ms": "ms",
    "operators.bfs_jobs": "count",
    "operators.paths_jobs": "count",
    **{f"spark.{k}_per_op.{op}": u for op in READ_OPS
       for k, u in (("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"))},
    "spark.executor_run_share": "ratio",
    "storage.snapshot_build_ms": "ms",
    "storage.visible_calls_per_op": "count",
    "storage.append_ms": "ms",
    "storage.tombstone_ms": "ms",
    "storage.max_sequence_ms": "ms",
    "engine.registry_ms": "ms",
    "storage.bytes_written_per_sync": "bytes",
    "storage.parquet_files": "count",
    "ingest.list_files_ms": "ms",
    "ingest.file_hashes_ms": "ms",
    "ingest.parse_files_ms": "ms",
    "ingest.resolve_and_build_ms": "ms",
    "ingest.reparse_ratio": "ratio",
    "spark.jobs_per_sync": "count",
    "spark.jobs_per_link": "count",
    "functions.curate_self_ms": "ms",
    "sinks.write_ms": "ms",
    "sinks.verify_ms": "ms",
    "spark.jobs_per_curate": "count",
    "spark.shuffle_bytes_per_curate": "bytes",
    "spark.spill_bytes": "bytes",
    "bench.tracing_overhead_pct": "%",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans: list[Span], counts: dict, extra: dict) -> dict[str, float]:
    """``extra`` carries what spans cannot see: store bytes written per sync,
    parquet file count, files changed by the syncs and the overhead."""
    tree = SpanTree(spans)
    roots = [s for s in spans if s.layer in ("server", "bench")]
    reqs = [s for s in roots if s.layer == "server"]
    syncs = [s for s in roots if s.name == "sync"]
    links = [s for s in roots if s.name == "link"]
    curates = [s for s in roots if s.name == "curate"]

    def named(layer: str, *names: str, within=None) -> list[Span]:
        pool = spans if within is None else [s for r in within for s in tree.subtree(r)]
        return [s for s in pool if s.layer == layer and s.name in names]

    def per_op(layer: str, names: tuple[str, ...], ops: list[Span]) -> float:
        return _ratio(sum(s.ms for s in named(layer, *names, within=ops)), len(ops))

    m: dict[str, float] = {}
    mains = {s.parent: s for s in named("cli", "main")}
    m["server.self_ms"] = _mean(r.ms - (mains[r.id].ms if r.id in mains else 0.0)
                                for r in reqs)
    emits = named("cli", "emit")
    m["cli.emit_ms"] = per_op("cli", ("emit",), reqs)
    m["cli.emit_rows"] = _mean(s.attrs.get("rows") or 0 for s in emits)
    m["engine.cache_hit_ratio"] = _ratio(counts.get("_cache_get.hits", 0),
                                         counts.get("_cache_get.calls", 0))
    for key, names in (("find_by_name", ("find_by_name",)), ("traverse", ("traverse",)),
                       ("trace_paths", ("trace_paths",)),
                       ("search", ("keyword_search", "ranked_search")),
                       ("filtered", ("filtered",))):
        m[f"engine.{key}_ms"] = _mean(s.ms for s in named("engine", *names))
    bfs = named("operators", "bfs")
    m["operators.bfs_ms"] = _mean(s.ms for s in bfs)
    m["operators.bfs_jobs"] = _mean(tree.total(s, "jobs") for s in bfs)
    m["operators.paths_jobs"] = _mean(tree.total(s, "jobs")
                                      for s in named("operators", "find_paths_between"))
    for op in READ_OPS:
        ops = [r for r in reqs if r.attrs.get("op") == op]
        for k in ("jobs", "tasks", "shuffle_bytes"):
            m[f"spark.{k}_per_op.{op}"] = _mean(tree.total(r, k) for r in ops)
    timed = [r for r in roots if r.name != "link"]  # link is traced set-up
    m["spark.executor_run_share"] = _ratio(sum(tree.total(r, "exec_run_ms") for r in timed),
                                           sum(r.ms for r in timed))
    m["storage.snapshot_build_ms"] = per_op("storage", ("snapshot_fill",), reqs)
    m["storage.visible_calls_per_op"] = _ratio(len(named("storage", "visible", within=reqs)),
                                               len(reqs))
    m["storage.append_ms"] = per_op("storage", ("append_blocks", "append_edges"), syncs)
    m["storage.tombstone_ms"] = per_op("storage", ("tombstone_where",), syncs)
    m["storage.max_sequence_ms"] = per_op("storage", ("max_sequence",), syncs)
    m["engine.registry_ms"] = per_op("engine", ("registry", "_save_registry"), syncs)
    m["storage.bytes_written_per_sync"] = float(extra.get("bytes_written_per_sync", 0))
    m["storage.parquet_files"] = float(extra.get("parquet_files", 0))
    for name in ("list_files", "file_hashes", "parse_files", "resolve_and_build"):
        m[f"ingest.{name}_ms"] = per_op("ingest", (name,), syncs)
    parsed = sum(s.attrs.get("files", 0) for s in named("ingest", "parse_files", within=syncs))
    m["ingest.reparse_ratio"] = _ratio(parsed, extra.get("files_changed", 0))
    m["spark.jobs_per_sync"] = _mean(tree.total(s, "jobs") for s in syncs)
    m["spark.jobs_per_link"] = _mean(tree.total(s, "jobs") for s in links)
    m["functions.curate_self_ms"] = _mean(tree.self_ms(s)
                                          for s in named("functions", "curate_and_write"))
    m["sinks.write_ms"] = per_op("sinks", ("write_training_shards",), curates)
    m["sinks.verify_ms"] = _mean(s.ms for s in named("sinks", "verify_shards"))
    m["spark.jobs_per_curate"] = _mean(tree.total(s, "jobs") for s in curates)
    m["spark.shuffle_bytes_per_curate"] = _mean(tree.total(s, "shuffle_bytes") for s in curates)
    m["spark.spill_bytes"] = _mean(tree.total(r, "spill_bytes") for r in roots)
    m["bench.tracing_overhead_pct"] = float(extra.get("tracing_overhead_pct", 0.0))
    if set(m) != set(METRICS):
        raise RuntimeError(f"per-layer metric set drifted: {set(m) ^ set(METRICS)}")
    return m
