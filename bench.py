"""Benchmark harness (BASELINE.md §3).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Methodology:
- every query forced via the noop sink (full computation of all output
  columns, no driver collect);
- per-query time = median of N_RUNS runs (local timings showed ±50% noise);
- per-query ERROR ISOLATION (VERDICT r4 §Wrong #2): one failing query records
  an "err" entry and the run continues; exit 0 as long as >=1 query succeeds,
  so a single regression can never erase the whole round's numbers again;
- graph_build = one-time derivation + snapshot/edge materialization,
  reported separately (it's the fixture cost, amortized across all queries
  in a session — the production path reads a materialized BlockStore with
  parquet pushdown instead, see kausaldb_spark.storage);
- STORE PATH (r6): the same point/batch/filter/traversal gates are also run
  against a materialized *bucketed* BlockStore (blocks by id, edges by src —
  storage.materialize_bucketed), reported as store_* keys. store_materialize
  is the one-time layout cost; store_bucketed_join_exchange_free records
  whether a src-keyed edge self-join plans without a shuffle Exchange (the
  co-located-join property a 100 TB deployment maintains);
- REGRESSION GATE (r6): per-query ratio vs the round-1 medians recorded in
  BASELINE.md §4 — emits ratio_geomean + regressions (>1.5x) +
  regressions_2x (>2x) in the JSON; informational, never crashes the run.
- INGESTION (r9): ingest_parse / ingest_batch / ingest_incremental over the
  pinned reference src/ corpus, mirroring the reference's ingestion benches
  (src/bench/ingestion.zig) — files/s and MB/s derived figures under
  ingest_scale. Pinned corpus => sf-independent, gated like every key.
- DAEMON E2E (r9): e2e_find / e2e_show — client->daemon->engine round-trip
  medians on one warm connection, mirroring src/bench/e2e.zig:217-427.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# per-query runs (median taken). $SPARK_GRAFT_BENCH_RUNS forces a count
# everywhere (incl. the sub-second 5-run override) — the sf10 gauntlet
# runs once per query: at multi-second durations the ±50% local noise
# band is proportionally irrelevant and a 3-run median would triple a
# ~15 min measurement for nothing.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
_RUNS_FORCED = "SPARK_GRAFT_BENCH_RUNS" in os.environ

BENCH_QUERIES = [
    # reference-parity ops (BASELINE.md §3 table)
    "point_lookup",
    "batch_lookup_100",
    "filter_metadata_eq",
    "filter_compound",
    "keyword_search",
    "find_by_name",
    "callers_1hop",
    "bfs_depth3",
    "bfs_depth5",
    "bidirectional",
    "topo_sort",
    "snapshot_view",
    "context_blocks",
    # pipeline ops
    "exact_dedup",
    "line_dedup",
    "duplicate_spans",
    "span_removal",
    "term_match_topk",
    "bm25_topk_ppm",
    "source_overlap",
    "minhash_near_dup",
    "near_dup_clusters",
    "ngram_jaccard",
    "simhash_pairs",
    "simhash_band",
    "contamination",
    "token_count",
    "token_count_bpe",
    "split_assignment",
    "normalize_text",
    "mixture_weights",
    "compression_ratio",
    "lang_id",
    "quality_score",
    "lm_perplexity",
    "gopher_rules",
    "gopher_repetition",
    "c4_rules",
    "hybrid_rrf",
    "ann_recall",
    "pq_recall",
    "hashed_features",
    "html_extract",
    "warc_ingest",
    "link_pagerank",
    "robots_filter",
    "crawl_frontier",
    "decode_coverage",
    "animation_stats",
    "audio_stats",
    "video_probe",
    "pdf_extract",
    "jsonl_ingest",
    "exif_stats",
    "charset_detect",
    "csv_ingest",
    "nb_classifier",
    "sitemap_parse",
    "compression_band",
    "robots_sitemaps",
    "recrawl_priority",
    "fetch_schedule",
    "image_near_dup",
    "pii_scan",
    "repetition_score",
    "domain_filter",
    "length_quantiles",
    "pack_sequences",
    "pack_best_fit",
    "importance_resample",
    "ann_topk",
    "ann_lsh",
    "embedding_near_dup",
    "semantic_dedup",
    "events_hourly",
    "events_quantiles",
    "events_funnel",
    "cohort_retention",
    "sliding_rollup",
    "sessionize",
    "events_asof",
]

# the graph-backed subset (reads the materialized snapshot views); the
# rest derive from documents/events/embeddings parquet directly
GRAPH_QUERIES = set(BENCH_QUERIES[:13])
assert "context_blocks" in GRAPH_QUERIES and "exact_dedup" not in GRAPH_QUERIES


# BASELINE.md §4 round-1 recorded medians (local[32], sf0.1). graph_build is
# excluded (fixture cost, noisy by design); queries added after round 1 have
# no baseline and are skipped by the gate.
BASELINE_MEDIANS = {
    "point_lookup": 0.33, "batch_lookup_100": 0.59, "filter_metadata_eq": 0.65,
    "filter_compound": 0.57, "keyword_search": 0.45, "find_by_name": 0.44,
    "callers_1hop": 2.0, "bfs_depth3": 2.9, "bfs_depth5": 3.3,
    "bidirectional": 3.6, "topo_sort": 5.9, "snapshot_view": 0.12,
    "context_blocks": 4.5, "exact_dedup": 0.40, "minhash_near_dup": 6.2,
    "near_dup_clusters": 7.0, "ngram_jaccard": 11.6, "simhash_pairs": 3.8,
    "contamination": 3.7, "token_count": 0.16, "token_count_bpe": 0.25,
    "split_assignment": 0.15, "lang_id": 0.91, "quality_score": 0.38,
    "ann_topk": 0.49, "ann_lsh": 0.44, "embedding_near_dup": 0.39,
    "events_hourly": 0.41, "sessionize": 0.44,
    # r9-recorded baselines (first round these keys exist): ingestion over
    # the pinned reference src/ corpus + daemon round-trip latency.
    # batch/incremental re-recorded late-r9 after the redundant snapshot
    # endpoint re-check was dropped from the ingest append path (18.1 →
    # 10.8 / 16.6 → 12.8) — the gate holds the improvement, not the debt
    "ingest_parse": 1.87, "ingest_batch": 10.8, "ingest_incremental": 12.8,
    # e2e_show re-recorded r10 after engine.traverse moved to the persisted
    # snapshot/edges_snapshot session views (steady-state ~0.8 s; the
    # harness median-of-5 includes the cold first request that pays the
    # one-time view build, measured 1.14-1.42 across quiet runs)
    "e2e_find": 0.69, "e2e_show": 1.3,
    # r11 (verdict item 7): the cold FIRST request is now timed separately
    # (it pays the one-time snapshot/edges_snapshot persisted-view build on
    # the show path) so the warm keys above measure steady state only.
    # Recorded at the upper quiet-box median of 3 harness reps
    # (find_cold 0.68-0.98, show_cold 2.5-3.6)
    "e2e_find_cold": 1.0, "e2e_show_cold": 3.0,
    # r9-recorded baselines: LM perplexity + Gopher rules (new this round)
    "lm_perplexity": 2.12, "gopher_rules": 0.88,
    # r11 session-3 keys, recorded at the upper of two idle-box runs:
    # PQ/ADC recall (driver-side sampled codebook training — the 14.1 s
    # full-MLlib-fit formulation was measured and rejected the same day),
    # HTML extraction, codec-coverage probe, GIF animation decode
    "pq_recall": 2.8, "html_extract": 2.0, "decode_coverage": 0.55,
    "animation_stats": 5.5, "hashed_features": 1.1,
    # r12: end-to-end crawl ingest (synthesized segments -> gzip member
    # decode -> WARC parse -> HTTP split -> HTML extraction -> conform),
    # single-pass plan; recorded median-of-5 on a quiet box (2.23)
    "warc_ingest": 2.3,
    # r12: link-graph PageRank (5 integer-ppm iterations over the markup
    # link relation) and the robots codegen gate — quiet median-of-5
    # (3.46 / 0.57)
    "link_pagerank": 3.5, "robots_filter": 0.6,
    # r12: frontier assembly (canonicalize -> robots -> anti-join fetched
    # -> per-host cap) — quiet median-of-5 (2.55)
    "crawl_frontier": 2.6,
    # r12 session 4/5: the three modality ops — quiet idle-box medians
    # (audio_stats median-of-5 0.80; video_probe median-of-5 0.54;
    # image_near_dup median-of-5 4.34 after the signature localCheckpoint
    # fix — without it the decode+hash lineage re-executed per band join,
    # the simhash lesson relearned at 100x: 260 s -> 88 s at sf10)
    "audio_stats": 0.8, "video_probe": 0.55, "image_near_dup": 4.4,
    # r12 session 6: PDF text extraction (object scan + flate + ObjStm +
    # page tree + TJ machine) — quiet median-of-5 (1.55); JSONL ingest is
    # one from_json codegen expression (median-of-5 0.70)
    "pdf_extract": 1.6, "jsonl_ingest": 0.7,
    # r12 session 7: EXIF provenance extraction (jpeg synth + TIFF IFD
    # walk, both byte orders) — quiet median-of-5 (0.58)
    "exif_stats": 0.6,
    # r12 session 7/8: crawl + front-door + classifier keys, all quiet
    # median-of-5 on an idle box (loadavg 0.1): WHATWG charset sniff
    # (0.52), from_csv front door (0.50), integer NB train+score (1.64),
    # from_xml sitemap parse (0.71), zlib band gate (0.46), Sitemap:
    # directive extraction (0.25), recrawl scheduler (0.99), politeness
    # window (0.46)
    "charset_detect": 0.55, "csv_ingest": 0.5, "nb_classifier": 1.7,
    "sitemap_parse": 0.75, "compression_band": 0.5,
    "robots_sitemaps": 0.3, "recrawl_priority": 1.0,
    "fetch_schedule": 0.5,
    # r10: map-only reformulation (in-row single-fold run maxima +
    # shifted-zip neighbor scans + incremental gram builds — zero shuffles,
    # bind-only lambdas so column pruning can never inline an array
    # expression into a per-element body; the r9 two-shuffle shape measured
    # 12.2 s controlled median after its 1.57x driver drift flag).
    # Baseline re-recorded at the improved value so the gate holds the
    # gain (bench-harness quiet-box runs measured 6.6-7.7; recorded at the
    # upper median so box drift can't manufacture a driver flag)
    "gopher_repetition": 7.2,
    # late-r9: C4 cleaning rules (map-only array expressions) + hybrid
    # BM25/vector RRF retrieval (two broadcast+scan legs + tiny fusion)
    "c4_rules": 0.26, "hybrid_rrf": 1.92,
    # late-r9: LSH recall@k vs the exact baseline (two legs + tiny joins)
    "ann_recall": 1.65,
    # late-r9: no-split BFD packing (Arrow-batched per-sub-shard greedy)
    "pack_best_fit": 1.56,
}


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Per-run RAW timings, keyed by query name (r12 verdict item 1: medians hide
# host steal waves — a judge could not tell a real regression from one noisy
# run). Written to the BENCH_LOCAL.json artifact only; the stdout JSON line
# stays compact (it must fit the driver's tail capture).
RAW_RUNS: dict[str, list[float]] = {}


def _box_stamp() -> dict:
    """Host-noise stamp: loadavg + cumulative CPU-steal jiffies from
    /proc/stat (field 9 of the aggregate cpu line). A steal DELTA across the
    bench run >> 0 on an otherwise-idle box marks the run wave-contaminated;
    the r12 round lost its round-over-round comparison to exactly that."""
    stamp: dict = {}
    try:
        with open("/proc/loadavg", encoding="ascii") as fh:
            stamp["loadavg"] = float(fh.read().split()[0])
        with open("/proc/stat", encoding="ascii") as fh:
            cpu = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        stamp["steal_jiffies"] = int(cpu[8]) if len(cpu) > 8 else None
    except OSError:
        pass
    return stamp


def _timed(fn, timings, errors, name, n_runs=N_RUNS):
    """Median-of-n with per-query error isolation. Returns the median or
    None on error."""
    import statistics as _st
    import time as _t

    runs = []
    try:
        for _ in range(n_runs):
            t0 = _t.monotonic()
            fn()
            runs.append(_t.monotonic() - t0)
    except Exception as exc:  # noqa: BLE001 — isolation
        errors[name] = _err_tail(exc)
        timings[name] = {"err": _err_tail(exc)}
        return None
    RAW_RUNS[name] = [round(r, 3) for r in runs]
    med = _st.median(runs)
    timings[name] = round(med, 3)
    return med


def _bench_store_path(spark, sf_dir, timings, errors):
    """The production read path: one bucketed materialization, then the
    point/batch/filter/traversal gates against the catalog tables. Returns
    seconds added to the total."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from kausaldb_spark import graphmodel as gm
    from kausaldb_spark.operators import filtering as flt
    from kausaldb_spark.operators import lookup as lk
    from kausaldb_spark.operators import traversal as tv
    from kausaldb_spark.storage import BlockStore

    added = 0.0
    t0 = time.monotonic()
    store_dir = tempfile.mkdtemp(prefix="kdb_bench_store_")
    try:
        g = gm.graph(spark, sf_dir)
        store = BlockStore(spark, store_dir)
        # pin=False (r13): g["visible"] is a deterministic projection over
        # the persisted graph cache — the default pin re-encoded the whole
        # wide block relation into a second in-memory cache just to read
        # min/max(sequence); unpinned, the agg is a column-pruned pass over
        # the narrow cache. Same writes, same store bytes, same results.
        store.append_blocks(g["visible"], resequence=False, pin=False)
        # edges_vis is endpoint-restricted by construction (graphmodel
        # anti-joins both endpoints against the invisible set) — bulk
        # re-materialization skips the redundant endpoint re-check
        store.append_edges(g["edges_vis"], assume_endpoints_exist=True)
        store.materialize_bucketed("bench")
        blocks_b = spark.table("bench_blocks_b")
        edges_b = spark.table("bench_edges_b")
    except Exception as exc:  # noqa: BLE001
        errors["store_materialize"] = _err_tail(exc)
        timings["store_materialize"] = {"err": _err_tail(exc)}
        import shutil as _sh

        _sh.rmtree(store_dir, ignore_errors=True)
        return added
    sec = time.monotonic() - t0
    timings["store_materialize"] = round(sec, 3)
    added += sec

    # the co-located-join property: a src-keyed edge self-join must plan
    # WITHOUT a shuffle (Exchange hashpartitioning) over the bucketed
    # tables. Broadcast is disabled for the audit — at bench scale the
    # planner broadcasts the small side (also shuffle-free, but that
    # escape hatch vanishes at 100 TB; bucketing is what remains)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a, b = edges_b.alias("a"), edges_b.alias("b")
            j = a.join(b, F.col("a.src") == F.col("b.src")).select(F.col("a.dst"))
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        timings["store_bucketed_join_exchange_free"] = (
            "Exchange hashpartitioning" not in plan
        )
    except Exception as exc:  # noqa: BLE001
        errors["store_plan_audit"] = _err_tail(exc)

    md5 = entry_mod._md5
    meta_expr = flt.Expr.and_(
        flt.Expr.cond(flt.TARGET_METADATA, "eq", "const", "unit_type"),
        flt.Expr.cond(flt.TARGET_METADATA, "eq", "catalog", "codebase"),
    )
    gates = {
        "store_point_lookup": lambda: _force(lk.find_block(blocks_b, md5("C1"))),
        "store_batch_lookup_100": lambda: _force(
            lk.find_blocks_batched(blocks_b, entry_mod._ids_range(spark, "C", 100))
        ),
        "store_filter_metadata_eq": lambda: _force(
            flt.filtered_query(blocks_b, meta_expr).select("id", "unit_id", "sequence")
        ),
        "store_callers_1hop": lambda: _force(
            tv.bfs(edges_b, [entry_mod.S3], tv.INCOMING,
                   tv.EdgeFilter.only("calls"), max_depth=1)
            .where(F.col("depth") == 1)
            .join(blocks_b, "id")
            .select("id", "unit_id", "codebase", "depth")
        ),
        "store_bfs_depth3": lambda: _force(
            tv.bfs(edges_b, [entry_mod.C42], tv.OUTGOING, max_depth=3)
            .select("id", "depth")
        ),
    }
    try:
        for name, fn in gates.items():
            med = _timed(fn, timings, errors, name)
            if med is not None:
                added += med
    finally:
        # the sf10 rehearsal's store copy is ~21 GB — leaked bench stores
        # filled the disk and turned a sort spill into SPILL_OUT_OF_MEMORY
        import shutil as _sh

        _sh.rmtree(store_dir, ignore_errors=True)
    return added


def _bench_incremental_dedup(spark, sf_dir, timings, errors) -> float:
    """Incremental dedup split into its two real-world costs (r6 verdict
    Wrong #2): the per-CORPUS index build (one-time; re-run only when the
    corpus is recut) and the per-BATCH steady-state check against the
    persisted index (the number that matters in production — the corpus is
    never re-hashed). The old conflated `incremental_dedup` key timed both
    per run and read 5.4 s when the batch-side cost is sub-second."""
    import tempfile

    from pyspark.sql import functions as F

    from kausaldb_spark.functions import dedup as dd

    full = dd.dedup_corpus(spark, sf_dir)
    base = full.where(F.col("doc_id") < dd.EXACT_COPY_OFFSET)
    new = full.where(F.col("doc_id") >= dd.EXACT_COPY_OFFSET)
    idx_path = tempfile.mkdtemp(prefix="kdb_bench_idx_")
    total = 0.0

    def build():
        dd.minhash_index(base).write.mode("overwrite").parquet(idx_path)

    try:
        med = _timed(
            build, timings, errors, "incremental_dedup_index_build", n_runs=1
        )
        if med is None:
            return total
        total += med
        idx = spark.read.parquet(idx_path)

        def batch():
            _force(dd.near_dup_vs_corpus(new, base, index=idx))

        med = _timed(batch, timings, errors, "incremental_dedup_batch")
        if med is not None:
            total += med
        return total
    finally:
        import shutil as _sh

        _sh.rmtree(idx_path, ignore_errors=True)


def _bench_ingestion(spark, timings, errors) -> float:
    """r8 verdict item 1 — the S7-S9 ingestion pipeline was the one surface
    with correctness pins but no recorded throughput. Mirrors the
    reference's ingestion benches (/root/reference/src/bench/ingestion.zig
    via harness src/bench/harness.zig:31-56: parser throughput, batch
    ingest, incremental):

      ingest_parse        distributed parse of the pinned corpus (units +
                          raw edges forced through the noop sink), no store
      ingest_batch        full link_codebase into a fresh store (1 run —
                          a write pipeline, like graph_build)
      ingest_incremental  steady-state sync after exactly ONE file changed
                          (hash-diff scan + re-parse + scoped re-resolve)

    Pinned corpus = the reference's own src/ tree: frozen across rounds,
    so these keys gate against BASELINE_MEDIANS like every other key.
    Derived files/s / MB/s figures land under ingest_scale."""
    import shutil as _sh
    import tempfile

    from kausaldb_spark.engine import KausalEngine
    from kausaldb_spark.sources import ingest as ing

    added = 0.0
    src_root = "/root/reference/src"
    files = ing.list_files(src_root)
    if not files:
        errors["ingest_parse"] = "pinned corpus missing: " + src_root
        return added
    n_files = len(files)
    n_bytes = sum(os.path.getsize(ap) for ap, _ in files)

    def parse():
        # r12 opt round: materialize=True is the production parse shape now
        # (ONE combined mapInPandas pass checkpointed; units/edges are
        # filtered projections) — the timed quantity is the real pipeline
        # cost. Old two-pass shape measured 1.25 s at the session-8 record;
        # both numbers kept in OPTIMIZATION_r12.md.
        units, raw_edges = ing.parse_files(spark, files, materialize=True)
        _force(units)
        _force(raw_edges)

    med = _timed(parse, timings, errors, "ingest_parse")
    if med is not None:
        added += med
        timings["ingest_scale"] = {
            "n_files": n_files,
            "mb": round(n_bytes / 1e6, 2),
            "parse_files_per_sec": round(n_files / med, 1),
            "parse_mb_per_sec": round(n_bytes / 1e6 / med, 2),
        }

    # batch: the full pipeline into a store. The tree is copied so the
    # incremental leg below can mutate one file (the reference tree is
    # read-only), and so re-runs never collide.
    work = tempfile.mkdtemp(prefix="kdb_bench_ingest_tree_")
    _sh.copytree(src_root, work, dirs_exist_ok=True)
    eng = KausalEngine(spark, tempfile.mkdtemp(prefix="kdb_bench_ingest_store_"))

    med = _timed(
        lambda: eng.link_codebase(work, "refsrc"),
        timings, errors, "ingest_batch", n_runs=1,
    )
    if med is None:
        return added
    added += med
    if isinstance(timings.get("ingest_scale"), dict):
        timings["ingest_scale"]["batch_files_per_sec"] = round(n_files / med, 1)

    victim = os.path.join(work, files[n_files // 2][1])
    with open(victim, "a", encoding="utf-8") as fh:
        fh.write("\n// bench touch\n")

    sync_stats: dict = {}
    med = _timed(
        lambda: sync_stats.update(eng.sync_codebase("refsrc", root=work)),
        timings, errors, "ingest_incremental", n_runs=1,
    )
    if med is not None:
        added += med
        if isinstance(timings.get("ingest_scale"), dict):
            # the convergence cascade (re-resolving unchanged files that
            # reference the changed file's definition names) is part of the
            # measured cost — record how many files it actually touched so
            # the seconds are interpretable round-over-round
            timings["ingest_scale"]["incremental_stats"] = {
                k: sync_stats.get(k)
                for k in ("files_changed", "files_reresolved", "files_unchanged")
            }
    _sh.rmtree(work, ignore_errors=True)
    _sh.rmtree(eng.store.path, ignore_errors=True)
    return added


def _bench_e2e(spark, timings, errors) -> float:
    """r8 verdict item 9 — client->daemon->engine round-trip latency,
    mirroring the reference's e2e server bench (src/bench/e2e.zig:217-427):
    a resident engine behind the TCP daemon, ONE warm client connection,
    median wall time per request for find (e2e_find) and callers
    (e2e_show). Each run queries a DIFFERENT function so the engine's
    result cache (X1) can't turn the median into a cache-hit
    micro-benchmark; what's measured is socket + JSON framing + a real
    engine execution — the daemon's steady-state latency."""
    import tempfile

    from kausaldb_spark.engine import KausalEngine
    from kausaldb_spark.server import KausalClient, KausalServer

    added = 0.0
    root = tempfile.mkdtemp(prefix="kdb_bench_e2e_proj_")
    n_fns = 12
    body = "".join(
        f"def fn_{i}(x):\n    return x + {i}\n\n" for i in range(n_fns)
    )
    body += "def caller():\n    return " + " + ".join(
        f"fn_{i}(1)" for i in range(n_fns)
    ) + "\n"
    with open(os.path.join(root, "lib.py"), "w", encoding="utf-8") as fh:
        fh.write(body)
    eng = KausalEngine(spark, tempfile.mkdtemp(prefix="kdb_bench_e2e_store_"))
    eng.link_codebase(root, "bench")
    srv = KausalServer(eng, eng.store.path, port=0)
    srv.serve_background()
    host, port = srv.server_address[:2]
    try:
        with KausalClient(host, port) as c:
            c.request(["ping"])  # connection + handler warmup
            i = [0]

            def run_find():
                argv = ["--format", "json", "find", "--workspace", "bench",
                        "--type", "function", "--name", f"fn_{i[0] % n_fns}"]
                i[0] += 1
                r = c.request(argv)
                assert r["ok"], r

            def run_show():
                argv = ["--format", "json", "show", "--workspace", "bench",
                        "--relation", "callers", "--target", f"fn_{i[0] % n_fns}"]
                i[0] += 1
                r = c.request(argv)
                assert r["ok"], r

            for name, fn in (("e2e_find", run_find), ("e2e_show", run_show)):
                # r10 verdict item 7: the cold FIRST request (pays the
                # one-time persisted-view build on the show path) is a
                # different quantity from the steady-state latency — time
                # it separately so the warm median is actually warm and
                # both get their own baseline + regression gate
                t0 = time.monotonic()
                try:
                    fn()
                except Exception as exc:  # noqa: BLE001
                    errors[name] = _err_tail(exc)
                    timings[name] = {"err": _err_tail(exc)}
                    continue
                cold = time.monotonic() - t0
                timings[f"{name}_cold"] = round(cold, 3)
                added += cold
                med = _timed(fn, timings, errors, name, n_runs=5)
                if med is not None:
                    added += med
    finally:
        srv.shutdown()
        srv.server_close()
        import shutil as _sh

        _sh.rmtree(root, ignore_errors=True)
        _sh.rmtree(eng.store.path, ignore_errors=True)
    return added


def _regression_gate(timings: dict) -> dict:
    """Per-query ratio vs BASELINE_MEDIANS. Informational — never raises."""
    import math

    ratios = {}
    for name, base in BASELINE_MEDIANS.items():
        cur = timings.get(name)
        if isinstance(cur, (int, float)) and base > 0:
            ratios[name] = cur / base
    if not ratios:
        return {}
    geomean = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    return {
        "ratio_geomean": round(geomean, 3),
        "regressions": sorted(n for n, r in ratios.items() if r > 1.5),
        "regressions_2x": sorted(n for n, r in ratios.items() if r > 2.0),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from kausaldb_spark import graphmodel as gm
    from kausaldb_spark.session import get_spark

    box_start = _box_stamp()
    spark = get_spark("kausaldb-bench")
    qs = entry_mod.queries()

    # JVM/codegen warmup: the first job of a fresh session pays ~3-5 s of
    # classloading that has nothing to do with the measured query (every
    # other query already runs on a warm session; graph_build shouldn't be
    # the one entry that eats the cold start)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, object] = {}
    errors: dict[str, str] = {}
    total = 0.0
    n_ok = 0

    # $SPARK_GRAFT_BENCH_ONLY: comma list restricting the run to a query
    # subset (the sf10 gauntlet benches the top-expensive ops only). The
    # store/ingest/e2e/incremental legs run iff a key of theirs is listed.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only = {x.strip() for x in only_env.split(",") if x.strip()} or None

    # graph materialization is a pre-warm for the graph-backed queries
    # (every query builds what it needs itself — gm.graph caches per
    # (session, sf_dir)); a BENCH_ONLY run that names none of them skips
    # the build so a text/dedup chunk doesn't pay 4+ minutes of unrelated
    # fixture cost at sf10 (store_materialize keeps it: its timing is
    # defined as bucketing an ALREADY-derived graph, not deriving one)
    need_graph = only is None or bool(
        only & (GRAPH_QUERIES | {"graph_build", "store_materialize"})
    )
    if need_graph:
        try:
            t0 = time.monotonic()
            gm.materialize(spark, sf_dir)
            build_sec = time.monotonic() - t0
            timings["graph_build"] = round(build_sec, 3)
            total += build_sec
            n_ok += 1
        except Exception as exc:  # noqa: BLE001 — isolation: record, keep benching
            errors["graph_build"] = _err_tail(exc)
            timings["graph_build"] = {"err": _err_tail(exc)}

    for name in BENCH_QUERIES:
        if name not in qs or (only is not None and name not in only):
            continue
        # sub-second queries get medians of 5 (r6 verdict Wrong #1: four
        # such lookups drifted >1.5x purely on 3-run noise — at <1 s each,
        # the extra runs cost nothing and stabilize the regression gate)
        if _RUNS_FORCED:
            n_runs = N_RUNS
        else:
            n_runs = 5 if BASELINE_MEDIANS.get(name, 99.0) < 1.0 else N_RUNS
        runs = []
        try:
            for _ in range(n_runs):
                t0 = time.monotonic()
                _force(qs[name](spark, sf_dir))
                runs.append(time.monotonic() - t0)
        except Exception as exc:  # noqa: BLE001
            errors[name] = _err_tail(exc)
            timings[name] = {"err": _err_tail(exc)}
            continue
        RAW_RUNS[name] = [round(r, 3) for r in runs]
        med = statistics.median(runs)
        timings[name] = round(med, 3)
        total += med
        n_ok += 1

    def _leg_wanted(prefix: str) -> bool:
        return only is None or any(k.startswith(prefix) for k in only)

    # incremental dedup: index-build + steady-state batch, reported as two
    # keys (the conflated single key hid the sub-second batch cost)
    if _leg_wanted("incremental_dedup"):
        try:
            total += _bench_incremental_dedup(spark, sf_dir, timings, errors)
            n_ok += 1
        except Exception as exc:  # noqa: BLE001
            errors["incremental_dedup_split"] = _err_tail(exc)

    # production read path: materialized bucketed store (r6). Reported under
    # its own total so `value` stays the fixture-path number that rounds 1-5
    # recorded (comparable across BENCH_r*.json); store_* per-query keys
    # still land in `queries`.
    store_total = 0.0
    if _leg_wanted("store"):
        try:
            store_total = _bench_store_path(spark, sf_dir, timings, errors)
        except Exception as exc:  # noqa: BLE001 — never lose fixture numbers
            errors["store_path"] = _err_tail(exc)

    # ingestion throughput + daemon round-trip (r9): sf-independent
    # (pinned corpus / synthetic project), reported under their own totals
    # so `value` stays comparable across BENCH_r*.json.
    ingest_total = 0.0
    if _leg_wanted("ingest"):
        try:
            ingest_total = _bench_ingestion(spark, timings, errors)
        except Exception as exc:  # noqa: BLE001
            errors["ingestion_path"] = _err_tail(exc)
    e2e_total = 0.0
    if _leg_wanted("e2e"):
        try:
            e2e_total = _bench_e2e(spark, timings, errors)
        except Exception as exc:  # noqa: BLE001
            errors["e2e_path"] = _err_tail(exc)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # box-noise stamp (r12 verdict item 1): loadavg at both ends + the
    # CPU-steal delta over the whole run. steal_sec >> 0 means the host
    # stole cycles mid-bench and single-key outliers are suspect; the raw
    # per-run timings in BENCH_LOCAL.json say WHICH keys were hit.
    box_end = _box_stamp()
    box = {
        "loadavg_start": box_start.get("loadavg"),
        "loadavg_end": box_end.get("loadavg"),
        # the heap the session runs with (session.driver_memory, or
        # $SPARK_GRAFT_DRIVER_MEM)
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }
    if (
        box_start.get("steal_jiffies") is not None
        and box_end.get("steal_jiffies") is not None
    ):
        # jiffies are USER_HZ=100 on linux — /100 gives CPU-seconds stolen
        box["steal_sec"] = round(
            (box_end["steal_jiffies"] - box_start["steal_jiffies"]) / 100.0, 1
        )
    out = {
        "metric": "bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "store_path_sec": round(store_total, 3),
        "ingest_path_sec": round(ingest_total, 3),
        "e2e_path_sec": round(e2e_total, 3),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "box": box,
    }
    try:
        out.update(_regression_gate(timings))
    except Exception as exc:  # noqa: BLE001
        errors["regression_gate"] = _err_tail(exc)
    if errors:
        out["n_errors"] = len(errors)

    # BENCH record discipline (r9 verdict item 1: the driver's BENCH_r9.json
    # came back `parsed: null` because the final JSON line outgrew its stdout
    # tail capture). Three defenses:
    #   1. the FULL record (incl. nested ingest_scale + error texts) is
    #      written to BENCH_LOCAL.json as a by-path artifact;
    #   2. the stdout line is compact (no separators whitespace, nested
    #      diagnostic dicts elided — scalars only) — ~25% smaller;
    #   3. it is printed AFTER spark.stop(), flushed, as the very last
    #      stdout of the process, so no late JVM/log output can displace it
    #      from a tail window.
    try:
        # the plain BENCH_LOCAL.json name is reserved for the driver-contract
        # scale (sf0.1) so an sf1/skew run can't clobber the round record;
        # a BENCH_ONLY subset run is likewise PARTIAL by construction and
        # must never replace the full record either (an r11 three-query
        # drift probe silently clobbered the round record and round_close
        # then gated on it)
        suffix = "" if out["sf"] == 0.1 else f"_sf{out['sf']}"
        if only is not None:
            suffix += "_partial"
        # r11 verdict item 8: per-run artifacts live under bench_records/
        # — ONE canonical path per record that every gate reads, so a
        # stale root-level copy can never shadow a fresh one again
        rec_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_records"
        )
        os.makedirs(rec_dir, exist_ok=True)
        local_path = os.path.join(rec_dir, f"BENCH_LOCAL{suffix}.json")
        with open(local_path, "w", encoding="utf-8") as fh:
            # raw_runs: every individual run behind each median — the
            # artifact a judge needs to tell "steal wave hit run 2" from
            # "the code got slower" (r12 verdict item 1). Artifact-only:
            # too big for the stdout tail line.
            json.dump({**out, "raw_runs": RAW_RUNS, "errors": errors}, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    line_out = dict(out)
    line_out["queries"] = {
        k: v for k, v in timings.items() if not isinstance(v, dict)
    }
    # eliding dict-valued entries must NOT silently drop per-query errors
    # from the compact record (the r11 sf10 store failure surfaced as
    # errors=[] in the gate because it only read this line): keep the
    # failed names + a short cause so any line-only consumer still fails
    query_errs = {
        k: str(v.get("err", ""))[:160]
        for k, v in timings.items()
        if isinstance(v, dict) and "err" in v
    }
    if query_errs:
        line_out["query_errors"] = query_errs
    spark.stop()
    print(json.dumps(line_out, separators=(",", ":")), flush=True)
    if n_ok == 0:
        sys.exit(1)


def _err_tail(exc: Exception, limit: int = 2000) -> str:
    """Head + tail of the exception text — JVM exceptions put the root
    cause ('Caused by: ...') at the END but the exception class and
    message at the START; a tail-only capture lost the r11 sf10 store
    OOM's cause. Small enough to keep the one-line JSON readable."""
    msg = f"{type(exc).__name__}: {exc}"
    if len(msg) <= limit:
        return msg
    half = limit // 2
    return msg[:half] + " ... " + msg[-half:]


if __name__ == "__main__":
    main()
