"""Incremental sync (content-hash change detection, per-file re-ingest,
epoch-shadowed edges), the workspace registry, and the max-sequence
high-water mark.

Reference semantics being extended: the reference's sync re-ingests the
whole tree (src/workspace/manager.zig:248-273) and stores workspace
metadata as a fixed-id config block (manager.zig:38-54,295-343); here sync
re-parses only files whose content hash changed and tombstones removed
files' blocks — the monorepo-scale behavior the reference's last_sync
tracking points toward.
"""

import json
import textwrap
import time

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from kausaldb_spark.engine import REGISTRY_BLOCK_ID, KausalEngine
from kausaldb_spark.storage import BlockStore

# Heavy tests are opt-in via `-m scale` (see pytest.ini), marked one by
# one: the default run keeps the sync convergence, incremental-sync,
# local-shadowing, re-link and job-count tests, so the one commit path of
# sync_codebase and link_codebase has tier-1 coverage, and the tests of the
# answer cache and the registry across writes.

A_PY = textwrap.dedent('''
    def fa():
        return util()
''')
B_PY_V1 = textwrap.dedent('''
    def fb():
        return util()
''')
B_PY_V2 = textwrap.dedent('''
    def fb():
        x = 5
        return util()
''')
B_PY_V3 = textwrap.dedent('''
    def fb():
        return 2
''')
UTIL_PY = textwrap.dedent('''
    def util():
        return 0
''')


def _write_proj(root):
    (root / "a.py").write_text(A_PY)
    (root / "b.py").write_text(B_PY_V1)
    (root / "util.py").write_text(UTIL_PY)
    return root


@pytest.fixture()
def proj(tmp_path_factory):
    return _write_proj(tmp_path_factory.mktemp("syncproj"))


@pytest.fixture(scope="module")
def linked(spark, tmp_path_factory):
    """An engine with the `proj` tree linked as `cb`, for tests that leave
    the tree as it is."""
    root = _write_proj(tmp_path_factory.mktemp("linkedproj"))
    eng = KausalEngine(spark, str(tmp_path_factory.mktemp("linked_store")))
    eng.link_codebase(str(root), "cb")
    return eng


def _seqs(eng, codebase, file_path):
    return {
        r["id"]: r["sequence"]
        for r in eng.store.visible()
        .where((F.col("codebase") == codebase) & (F.col("file_path") == file_path))
        .collect()
    }


def _edges_from(eng, src_file):
    return [
        (r["src"], r["dst"], r["edge_type"])
        for r in eng.store.visible_edges()
        .where(F.col("src_file") == src_file)
        .collect()
    ]


def _blocks_of(eng, codebase):
    """Visible (id, unit_id, file_path, content) of one codebase."""
    return {
        (r["id"], r["unit_id"], r["file_path"], r["content"])
        for r in eng.store.visible()
        .where(F.col("codebase") == codebase)
        .select("id", "unit_id", "file_path", "content")
        .collect()
    }


def _edges_of(eng, codebase):
    """Visible (src, dst, edge_type) edges leaving one codebase's blocks."""
    ids = eng.store.visible().where(F.col("codebase") == codebase).select("id")
    ev = eng.store.visible_edges()
    ev = ev.join(ids, ev.src == ids.id, "left_semi")
    return {(r["src"], r["dst"], r["edge_type"]) for r in ev.collect()}


def test_incremental_sync(spark, proj, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("sync_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(proj), "p")

    util_seqs_1 = _seqs(eng, "p", "util.py")
    b_seqs_1 = _seqs(eng, "p", "b.py")
    a_ids = set(_seqs(eng, "p", "a.py"))
    assert util_seqs_1 and b_seqs_1 and a_ids
    assert len(_edges_from(eng, "a.py")) == 1  # fa -> util
    assert len(_edges_from(eng, "b.py")) == 1  # fb -> util
    raw1 = eng.store.blocks_raw().count()
    max1 = eng.store.max_sequence()

    # modify one file (keeps the cross-file call), delete another
    (proj / "b.py").write_text(B_PY_V2)
    (proj / "a.py").unlink()
    info = eng.sync_codebase("p")
    assert info["files_changed"] == 1 and info["files_removed"] == 1
    assert info["files_unchanged"] == 1

    # unchanged file: same visible versions, same sequences
    assert _seqs(eng, "p", "util.py") == util_seqs_1
    # changed file: same ids (deterministic), strictly newer sequences
    b_seqs_2 = _seqs(eng, "p", "b.py")
    assert set(b_seqs_2) == set(b_seqs_1)
    assert all(s > max1 for s in b_seqs_2.values())
    # deleted file: invisible
    assert not _seqs(eng, "p", "a.py")
    vis_ids = {r["id"] for r in eng.store.visible().select("id").collect()}
    assert not (a_ids & vis_ids)
    # raw store grew by ~one file's units (b.py blocks + registry update),
    # NOT by the whole tree
    raw2 = eng.store.blocks_raw().count()
    assert raw2 == raw1 + len(b_seqs_2) + 1

    # edges: a.py's edge gone (src invisible); b.py's re-resolved cross-file
    # edge appears EXACTLY once (the old epoch's copy is shadowed, no dups)
    assert _edges_from(eng, "a.py") == []
    b_edges = _edges_from(eng, "b.py")
    assert len(b_edges) == 1 and b_edges[0][2] == "calls"

    # second edit removes the call: both endpoint blocks persist, yet the
    # edge must disappear — the epoch rule, not endpoint visibility
    (proj / "b.py").write_text(B_PY_V3)
    eng.sync_codebase("p")
    assert _seqs(eng, "p", "b.py")  # blocks still visible
    assert _edges_from(eng, "b.py") == []

    # no-op sync: nothing re-parsed, no new block versions
    raw3 = eng.store.blocks_raw().count()
    info = eng.sync_codebase("p")
    assert info == {"files_changed": 0, "files_removed": 0, "files_unchanged": 2}
    assert eng.store.blocks_raw().count() == raw3 + 1  # registry stamp only


@pytest.mark.scale
def test_sync_survives_compact(spark, proj, tmp_path_factory):
    """Compaction folds epoch history; a post-compact sync still detects
    changes against the compacted file_state."""
    store = str(tmp_path_factory.mktemp("sync_store_c"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(proj), "p")
    eng.store.compact()
    (proj / "b.py").write_text(B_PY_V2)
    info = eng.sync_codebase("p")
    assert info["files_changed"] == 1 and info["files_removed"] == 0
    assert len(_edges_from(eng, "b.py")) == 1


@pytest.mark.scale
def test_workspace_registry(spark, proj, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("reg_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(proj), "one")
    eng.link_codebase(str(proj), "two")

    cbs = {c["name"]: c for c in eng.list_codebases()}
    assert set(cbs) == {"one", "two"}
    n_vis = eng.store.visible().where(F.col("codebase") == "one").count()
    assert cbs["one"]["block_count"] == n_vis > 0
    assert cbs["one"]["path"] == str(proj)
    assert cbs["one"]["linked_at"] <= cbs["one"]["last_sync_at"]
    assert cbs["one"]["edge_count"] == 2  # fa->util, fb->util
    assert eng.status()["codebases"] == eng.registry()

    # the registry IS a block (reference: fixed-id workspace-config block)
    reg_block = eng.store.visible().where(F.col("id") == REGISTRY_BLOCK_ID)
    assert reg_block.count() == 1

    # unlink drops the entry and the blocks
    eng.unlink_codebase("one")
    assert [c["name"] for c in eng.list_codebases()] == ["two"]
    assert eng.store.visible().where(F.col("codebase") == "one").count() == 0
    # the survivor's data is untouched
    assert eng.store.visible().where(F.col("codebase") == "two").count() == n_vis


@pytest.mark.scale
def test_max_sequence_high_water_mark(spark, tmp_path_factory):
    """The HWM side-file tracks the scan-derived max through append /
    delete / tombstone / compact, and append no longer rescans the store."""
    import os

    path = str(tmp_path_factory.mktemp("hwm_store"))
    st = BlockStore(spark, path)
    assert st.max_sequence() == 0

    blocks = spark.createDataFrame(
        [(f"{i:032x}", i + 10, "file://x", "function", f"x.py:f{i}", "w", "x.py",
          "{}", "def f(): pass") for i in range(5)],
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string,"
        " metadata_json string, content string",
    )
    hi = st.append_blocks(blocks)  # resequences 10..14 -> 1..5
    assert hi == 5 == st._scan_max_sequence() == st.max_sequence()
    assert os.path.exists(st._hwm_path)

    st.delete_blocks([f"{0:032x}", f"{1:032x}"])
    assert st.max_sequence() == st._scan_max_sequence() == 7

    st.tombstone_where(F.col("id") == f"{2:032x}")
    assert st.max_sequence() == st._scan_max_sequence() == 8

    hi = st.append_blocks(blocks)
    assert hi == 13 == st._scan_max_sequence() == st.max_sequence()

    # compact preserves the mark (sequences survive compaction)
    st.compact()
    assert st.max_sequence() == 13
    hi = st.append_blocks(blocks.limit(1))
    assert hi == 14 == st.max_sequence()

    # a deleted side-file is repaired from the scan
    os.remove(st._hwm_path)
    assert st.max_sequence() == st._scan_max_sequence() == 14


def test_sync_equals_fresh_link(spark, tmp_path_factory):
    """Convergence property: after ANY sequence of edits + syncs, the store's
    visible blocks and edges for the codebase equal what a FRESH link of the
    final tree produces (ids/content/edges identical; only sequences may
    differ). This pins the whole incremental machinery — hash diff, partial
    re-parse, cross-file re-resolution, tombstoning, edge epoch shadowing —
    to the semantics of full re-ingestion."""
    import shutil

    root = tmp_path_factory.mktemp("conv")
    files = {
        "f0.py": "def a0():\n    return b1()\n",
        "f1.py": "def b1():\n    return c2()\n",
        "f2.py": "def c2():\n    return 0\n",
        "f3.py": "def d3():\n    return b1() + c2()\n",
    }
    for name, body in files.items():
        (root / name).write_text(body)

    store = str(tmp_path_factory.mktemp("conv_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(root), "cb")

    edit_script = [
        # (action, file, new_content)
        ("mod", "f1.py", "def b1():\n    x = 1\n    return c2()\n"),
        ("del", "f3.py", None),
        ("add", "f4.py", "def e4():\n    return a0()\n"),
        ("mod", "f2.py", "def c2():\n    return 42\n\ndef c2b():\n    return a0()\n"),
        ("del", "f1.py", None),
        # one id in two rows of the batch, two identical edge rows
        ("add", "f5.py",
         "def g5():\n    return 1\n\n\ndef g5():\n    return c2() + c2()\n"),
    ]

    for i, (action, name, body) in enumerate(edit_script):
        if action == "del":
            (root / name).unlink()
        else:
            (root / name).write_text(body)
        stats = eng.sync_codebase("cb")
        # the counts a sync derives from its own relations agree with a
        # recount over the whole store
        counts = eng._codebase_counts("cb")
        assert {k: stats[k] for k in counts} == counts, (i, stats, counts)

        # fresh link of the current tree into a pristine store
        fresh_store = str(tmp_path_factory.mktemp(f"conv_fresh{i}"))
        fresh = KausalEngine(spark, fresh_store)
        fresh.link_codebase(str(root), "cb")

        assert _blocks_of(eng, "cb") == _blocks_of(fresh, "cb"), (
            f"block divergence after step {i}: {action} {name}"
        )
        assert _edges_of(eng, "cb") == _edges_of(fresh, "cb"), (
            f"edge divergence after step {i}: {action} {name}"
        )
        shutil.rmtree(fresh_store, ignore_errors=True)


# Spark jobs a one-file body-edit sync of the `proj` tree may start, on
# 4 and 8 cores alike: 27 for the first sync after the link and 29 for a
# second one, whose store already holds a tombstone batch. Before the sync
# counted itself (edges written without endpoint joins, counts observed on
# the commit's own writes, no sequence aggregates), they ran 47 and 52.
SYNC_JOB_CEILING = 29


def test_body_edit_sync_job_ceiling(spark, proj, tmp_path_factory):
    """A body-only edit changes no definition, so the sync re-resolves no
    unchanged file; its Spark jobs, counted under a job group, stay under
    the ceiling, and the counts it returns match a whole-store recount. A
    second body-edit sync, over a store that now holds tombstones, stays
    under the same ceiling."""
    store = str(tmp_path_factory.mktemp("jobs_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(proj), "cb")

    for body in (B_PY_V2, B_PY_V1):
        (proj / "b.py").write_text(body)
        with spark_jobs(spark, "body-edit-sync") as run:
            stats = eng.sync_codebase("cb")
        jobs = len(run["jobs"])

        assert stats["files_changed"] == 1 and stats["files_reresolved"] == 0, stats
        assert jobs <= SYNC_JOB_CEILING, jobs
        counts = eng._codebase_counts("cb")
        assert {k: stats[k] for k in counts} == counts


# Spark jobs a fresh link of the `proj` tree may start: 16 on 4 and 8
# cores. A link keeps no stored file, so it pays none of a sync's reads of
# the old state, and its counts are observed on its own writes; before
# that it ran 34.
LINK_JOB_CEILING = 16


def test_fresh_link_job_ceiling(spark, proj, tmp_path_factory):
    """A fresh link runs the sync commit with every file changed and no
    stored state: its Spark jobs stay under the ceiling, and the counts it
    returns match a whole-store recount."""
    eng = KausalEngine(spark, str(tmp_path_factory.mktemp("link_jobs_store")))

    with spark_jobs(spark, "fresh-link") as run:
        stats = eng.link_codebase(str(proj), "cb")
    jobs = len(run["jobs"])

    assert jobs <= LINK_JOB_CEILING, jobs
    assert stats["files_changed"] == 3 and stats["files_unchanged"] == 0, stats
    counts = eng._codebase_counts("cb")
    assert {k: stats[k] for k in counts} == counts


def test_sync_counts_stay_exact_after_a_block_delete(spark, proj, tmp_path_factory):
    """A block deleted between syncs leaves the registry's last counts
    stale; the next sync still returns and registers exact counts, read
    from the store as it is: the kept file lost a block, and the edge into
    it is no longer visible."""
    eng = KausalEngine(spark, str(tmp_path_factory.mktemp("delete_store")))
    eng.link_codebase(str(proj), "cb")
    util = eng.find_by_name("cb", "function", "util").collect()[0]["id"]
    eng.delete_blocks([util])
    (proj / "b.py").write_text(B_PY_V2)

    stats = eng.sync_codebase("cb")

    counts = eng._codebase_counts("cb")
    assert counts == {"blocks": 2, "edges": 0}
    assert {k: stats[k] for k in counts} == counts, stats
    reg = eng.registry()["cb"]
    assert {"blocks": reg["block_count"], "edges": reg["edge_count"]} == counts


def test_relink_equals_fresh_link(spark, proj, tmp_path_factory):
    """Linking a linked codebase again re-ingests every file and removes
    the files gone from disk: after a delete and an edit, the re-linked
    store shows the same visible blocks, edges and registry counts as a
    fresh link of the same tree, and a name only the deleted file defined
    is no longer found."""
    eng = KausalEngine(spark, str(tmp_path_factory.mktemp("relink_store")))
    eng.link_codebase(str(proj), "cb")
    assert eng.find_by_name("cb", "function", "fa").count() == 1
    (proj / "a.py").unlink()
    (proj / "b.py").write_text(B_PY_V2)

    stats = eng.link_codebase(str(proj), "cb")
    fresh = KausalEngine(spark, str(tmp_path_factory.mktemp("relink_fresh")))
    fresh.link_codebase(str(proj), "cb")

    assert _blocks_of(eng, "cb") == _blocks_of(fresh, "cb")
    assert _edges_of(eng, "cb") == _edges_of(fresh, "cb")
    counts = ("block_count", "edge_count")
    got, want = eng.registry()["cb"], fresh.registry()["cb"]
    assert [got[k] for k in counts] == [want[k] for k in counts] == [2, 1]
    assert eng.find_by_name("cb", "function", "fa").count() == 0
    assert stats["files_changed"] == 2 and stats["files_removed"] == 1, stats


def test_fresh_store_reads_start_no_spark_jobs(spark, tmp_path_factory):
    """A table whose directory does not exist yet is answered from its
    declared schema: reading every table of a fresh store, and the MVCC
    views over them, starts no Spark job. Once written, a table reads with
    the same columns in the same order (codebase last in blocks)."""
    st = BlockStore(spark, str(tmp_path_factory.mktemp("fresh_reads")))
    with spark_jobs(spark, "fresh-store-reads") as run:
        for df in (
            st.blocks_raw(), st.edges(), st.tombstones(), st.file_state(),
            st.ref_names(), st.visible(), st.visible("cb"),
            st.current_file_state(), st.current_ref_names(),
        ):
            assert df.collect() == []
    assert run["jobs"] == []

    empty = st.blocks_raw().dtypes
    assert empty[-1] == ("codebase", "string")
    st.append_blocks(spark.createDataFrame(
        [("b1", 1, "file://x", "function", "x.py:f", "cb", "x.py", "{}", "f")],
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string,"
        " metadata_json string, content string",
    ))
    assert st.blocks_raw().dtypes == empty
    assert [r["id"] for r in st.visible("cb").collect()] == ["b1"]


def test_cache_hit_counts_as_a_served_query(linked):
    """X4 parity: the reference counts every query; a cache hit must land
    in the per-type counters, not only in cache_hits."""
    linked._cache.clear()
    hits, served = linked.stats.cache_hits, linked.stats.queries_by_type.get("find_by_name", 0)
    linked.find_by_name("cb", "function", "fa")
    linked.find_by_name("cb", "function", "fa")
    assert linked.stats.cache_hits == hits + 1
    assert linked.stats.queries_by_type["find_by_name"] == served + 2


def test_first_read_after_a_noop_sync_sees_the_new_registry(linked):
    """A sync that changes no file still rewrites the registry block, a
    store write like any other: the first read after it is a cache miss,
    and a search that finds the registry block sees the new last_sync_at."""

    def registry_block():
        rows = linked.keyword_search("last_sync_at").collect()
        assert [r["id"] for r in rows] == [REGISTRY_BLOCK_ID]
        return json.loads(rows[0]["content"])["codebases"]["cb"]["last_sync_at"]

    before = registry_block()
    assert registry_block() == before  # served from the cache
    while int(time.time()) <= before:  # last_sync_at counts whole seconds
        time.sleep(0.05)
    misses = linked.stats.cache_misses

    stats = linked.sync_codebase("cb")

    assert stats["files_changed"] == 0 and stats["files_removed"] == 0, stats
    after = registry_block()
    assert linked.stats.cache_misses == misses + 1
    assert after == linked.registry()["cb"]["last_sync_at"] > before


def test_cached_answers_miss_after_another_engines_sync(spark, proj, tmp_path_factory):
    """Two engines share one store. The second syncs a definition away; the
    first engine's next lookup of it misses its cache and finds nothing,
    because that sync moved the store's mark."""
    store = str(tmp_path_factory.mktemp("two_engines_store"))
    first = KausalEngine(spark, store)
    first.link_codebase(str(proj), "cb")
    assert first.find_by_name("cb", "function", "fa").count() == 1
    assert first.find_by_name("cb", "function", "fa").count() == 1
    hits = first.stats.cache_hits
    assert hits == 1

    (proj / "a.py").write_text(A_PY.replace("def fa", "def fz"))
    KausalEngine(spark, store).sync_codebase("cb")

    misses = first.stats.cache_misses
    assert first.find_by_name("cb", "function", "fa").count() == 0
    assert first.stats.cache_misses == misses + 1
    assert first.stats.cache_hits == hits
    assert first.find_by_name("cb", "function", "fz").count() == 1


def test_registry_reads_the_store_after_another_engines_write(
    spark, proj, tmp_path_factory
):
    """An engine answers registry() from its own last registry write, with
    no Spark job and a fresh dict each call, while the store's mark is the
    one that write left. After a second engine's write it reads the store
    again and sees that write."""
    store = str(tmp_path_factory.mktemp("registry_reread_store"))
    first = KausalEngine(spark, store)
    first.link_codebase(str(proj), "cb")
    with spark_jobs(spark, "registry-own-write") as own:
        reg = first.registry()
        reg["cb"]["path"] = "elsewhere"
        assert first.registry()["cb"]["path"] == str(proj)
    assert own["jobs"] == [], own

    second = KausalEngine(spark, store)
    second.link_codebase(str(proj), "cb2")

    with spark_jobs(spark, "registry-reread") as reread:
        reg = first.registry()
    assert reread["jobs"], reread
    assert sorted(reg) == ["cb", "cb2"]
    assert reg == second.registry()


@pytest.mark.scale
def test_sync_reresolves_unchanged_callers(spark, tmp_path_factory):
    """ADVICE r4 #1: editing/removing one of two same-named definitions must
    re-resolve the *unchanged* files that reference the name — incremental
    sync has to converge to fresh-link semantics even when the changed file
    isn't the one holding the reference."""
    root = tmp_path_factory.mktemp("rere")
    (root / "x.py").write_text("def greet():\n    return 1\n")
    (root / "y.py").write_text("def greet():\n    return 2\n")
    (root / "caller.py").write_text("def run():\n    return greet()\n")

    store = str(tmp_path_factory.mktemp("rere_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(root), "cb")

    def caller_targets():
        vis = eng.store.visible().where(F.col("codebase") == "cb")
        src = vis.where(F.col("unit_id") == "caller.py:run").select("id")
        ev = eng.store.visible_edges()
        hit = ev.join(src, ev.src == src.id, "left_semi").alias("e").join(
            vis.select(F.col("id").alias("dst"), "unit_id"), "dst"
        )
        return sorted(r["unit_id"] for r in hit.select("unit_id").collect())

    # two same-named defs -> the bare reference is globally ambiguous -> no edge
    assert caller_targets() == []

    # delete one: greet becomes unique; caller.py is UNCHANGED but must rebind
    (root / "y.py").unlink()
    stats = eng.sync_codebase("cb")
    assert stats["files_changed"] == 0 and stats["files_removed"] == 1
    assert stats["files_reresolved"] >= 1
    assert caller_targets() == ["x.py:greet"]

    # add a new same-named def: ambiguity returns, the edge must drop again
    (root / "z.py").write_text("def greet():\n    return 3\n")
    stats = eng.sync_codebase("cb")
    assert stats["files_reresolved"] >= 1
    assert caller_targets() == []


@pytest.mark.scale
def test_ref_index_drives_reresolution(spark, tmp_path_factory):
    """The inverted ref_names index must (a) be fully covered after a fresh
    link (sentinel per file), (b) drive the same re-resolution outcome as
    the content-scan fallback, and (c) fold correctly through compact()."""
    root = tmp_path_factory.mktemp("refidx")
    (root / "x.py").write_text("def greet():\n    return 1\n")
    (root / "y.py").write_text("def greet():\n    return 2\n")
    (root / "caller.py").write_text("def run():\n    return greet()\n")
    (root / "loner.py").write_text("def solo():\n    return 0\n")

    store = str(tmp_path_factory.mktemp("refidx_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(root), "cb")

    refs = eng.store.current_ref_names().where(F.col("codebase") == "cb")
    # sentinel coverage: one NULL-name row per linked file
    sentinels = {r["file_path"] for r in refs.where(F.col("name").isNull()).collect()}
    assert sentinels == {"x.py", "y.py", "caller.py", "loner.py"}
    # caller.py's greet reference is indexed
    assert refs.where(
        (F.col("file_path") == "caller.py") & (F.col("name") == "greet")
    ).count() == 1

    # indexed path: delete y.py -> caller.py re-resolved, loner.py NOT
    (root / "y.py").unlink()
    stats = eng.sync_codebase("cb")
    assert stats["files_reresolved"] == 1  # exactly caller.py (index is exact)
    vis = eng.store.visible().where(F.col("codebase") == "cb")
    src = vis.where(F.col("unit_id") == "caller.py:run").select("id")
    ev = eng.store.visible_edges()
    assert ev.join(src, ev.src == src.id, "left_semi").count() == 1

    # compact folds the index to current epochs without losing coverage
    eng.store.compact()
    refs2 = eng.store.current_ref_names().where(F.col("codebase") == "cb")
    assert {r["file_path"] for r in refs2.where(F.col("name").isNull()).collect()} == {
        "x.py", "caller.py", "loner.py"
    }


@pytest.mark.scale
def test_legacy_store_falls_back_to_content_scan(spark, tmp_path_factory):
    """A store written before ref_names existed (simulated by dropping the
    index dir) must still re-resolve via the content-scan fallback — never
    silently miss candidates."""
    import shutil

    root = tmp_path_factory.mktemp("legacy")
    (root / "x.py").write_text("def greet():\n    return 1\n")
    (root / "y.py").write_text("def greet():\n    return 2\n")
    (root / "caller.py").write_text("def run():\n    return greet()\n")
    store = str(tmp_path_factory.mktemp("legacy_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(root), "cb")
    shutil.rmtree(eng.store._ref_names_dir)  # pre-index store

    (root / "y.py").unlink()
    stats = eng.sync_codebase("cb")
    assert stats["files_reresolved"] >= 1
    vis = eng.store.visible().where(F.col("codebase") == "cb")
    src = vis.where(F.col("unit_id") == "caller.py:run").select("id")
    ev = eng.store.visible_edges()
    assert ev.join(src, ev.src == src.id, "left_semi").count() == 1


def test_locally_shadowed_references_skip_the_reresolve_cascade(spark, tmp_path_factory):
    """r9: resolution is file-local-first (resolve_and_build coalesces the
    same-file symbol before the global-unique one), so a file that DEFINES
    a bare name itself can never change how it resolves that name when
    another file's same-named def changes — it must not be dragged into the
    cascade. Without the cut, touching any file sharing a ubiquitous local
    name (every Zig file's `std` import) re-resolved the whole codebase:
    the r9 ingest bench measured 109/110 files re-resolved per one-file
    touch. A file referencing the name WITHOUT a local def still rebinds,
    and only when the set of units defining the name changes: a body-only
    edit re-resolves nothing."""
    root = tmp_path_factory.mktemp("shadow")
    # every file defines its own `helper` (the std-import pattern) ...
    (root / "a.py").write_text(
        "def helper():\n    return 1\n\ndef run_a():\n    return helper()\n"
    )
    (root / "b.py").write_text(
        "def helper():\n    return 2\n\ndef run_b():\n    return helper()\n"
    )
    # ... except the one genuinely cross-file referencer
    (root / "c.py").write_text("def run_c():\n    return lonely()\n")
    (root / "d.py").write_text("def lonely():\n    return 3\n")

    store = str(tmp_path_factory.mktemp("shadow_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(root), "cb")

    # body-only touch of d.py: the set of units defining `lonely` is the
    # same, so no unchanged file can rebind and none is re-resolved
    (root / "d.py").write_text("def lonely():\n    return 33\n")
    stats = eng.sync_codebase("cb")
    assert stats["files_changed"] == 1
    assert stats["files_reresolved"] == 0, stats

    # a second definition of `lonely` changes that set: c.py references the
    # name without defining it, so it must rebind (the name is now
    # ambiguous) — exactly c.py is re-resolved
    (root / "e.py").write_text("def lonely():\n    return 4\n")
    stats = eng.sync_codebase("cb")
    assert stats["files_changed"] == 1
    assert stats["files_reresolved"] == 1, stats  # exactly c.py

    # b.py loses its own `helper`: a.py references `helper` too, but
    # defines it locally -> shadowed, zero files re-resolved (b.py itself
    # is re-parsed as changed and now binds a.py's helper)
    (root / "b.py").write_text("def run_b():\n    return helper()\n")
    stats = eng.sync_codebase("cb")
    assert stats["files_changed"] == 1
    assert stats["files_reresolved"] == 0, stats

    # convergence check: sync result == fresh link of the same tree
    store2 = str(tmp_path_factory.mktemp("shadow_fresh"))
    eng2 = KausalEngine(spark, store2)
    eng2.link_codebase(str(root), "cb")

    def edge_set(e):
        vis = e.store.visible().where(F.col("codebase") == "cb")
        ev = e.store.visible_edges().alias("ed")
        left = vis.select(F.col("id").alias("src"), F.col("unit_id").alias("su"))
        right = vis.select(F.col("id").alias("dst"), F.col("unit_id").alias("du"))
        return sorted(
            (r["su"], r["du"], r["edge_type"])
            for r in ev.join(left, "src").join(right, "dst")
            .select("su", "du", "edge_type").collect()
        )

    assert edge_set(eng) == edge_set(eng2)


@pytest.mark.scale
def test_link_and_sync_read_base_under_the_writer_lease(spark, proj, tmp_path_factory):
    """resequence=False means link/sync OWN the sequence range derived from
    max_sequence() — two engines reading the same base outside the lease
    could double-assign it. Spy at the point the base is consumed
    (resolve_and_build assigns the sequences): the engine must hold the
    writer lease there. (max_sequence itself is also read lock-free for
    snapshot-cache keying — those reads don't own a range.)"""
    from kausaldb_spark.sources import ingest as ing_mod

    store = str(tmp_path_factory.mktemp("lease_base_store"))
    eng = KausalEngine(spark, store)
    depths = []
    orig = ing_mod.resolve_and_build

    def spy(*a, **k):
        depths.append(eng.store._lease_depth)
        return orig(*a, **k)

    ing_mod.resolve_and_build = spy
    try:
        eng.link_codebase(str(proj), "cb")
        assert depths and all(d > 0 for d in depths), depths

        depths.clear()
        (proj / "b.py").write_text(B_PY_V2)
        eng.sync_codebase("cb", root=str(proj))
        assert depths and all(d > 0 for d in depths), depths
    finally:
        ing_mod.resolve_and_build = orig


@pytest.mark.scale
def test_status_edges_agree_with_visible_after_sync(spark, proj, tmp_path_factory):
    """status() must report the VISIBLE edge relation: after a sync the
    old epochs' edge rows remain in parquet but are shadowed."""
    store = str(tmp_path_factory.mktemp("status_store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(proj), "cb")
    (proj / "b.py").write_text(B_PY_V2)
    eng.sync_codebase("cb", root=str(proj))
    st = eng.status()
    assert st["edges"] == eng.store.visible_edges().count()
    # raw parquet now holds MORE rows than visible (the shadowed epoch)
    assert eng.store.edges().count() > st["edges"]


@pytest.mark.scale
def test_path_filter_null_semantics_agree_across_threshold(spark, tmp_path_factory):
    """ADVICE r9: _path_filter's isin branch (<=1000 paths) and its
    semi/anti-join branch (>1000) must return the SAME rows for a NULL
    file_path. Policy: null belongs to no path set — dropped in keep mode,
    kept in drop mode, on both branches."""
    store = str(tmp_path_factory.mktemp("pf_store"))
    eng = KausalEngine(spark, store)
    df = spark.createDataFrame(
        [("a", "p0"), ("b", None), ("c", "zz")], "id string, file_path string"
    )
    small = ["p0", "p1"]
    big = small + [f"bulk_{i}" for i in range(1200)]
    for paths in (small, big):
        kept = {r.id for r in eng._path_filter(df, paths, keep=True).collect()}
        dropped = {r.id for r in eng._path_filter(df, paths, keep=False).collect()}
        assert kept == {"a"}, (len(paths), kept)
        assert dropped == {"b", "c"}, (len(paths), dropped)
