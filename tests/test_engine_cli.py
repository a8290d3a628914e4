"""Storage write path (S1-S3), engine facade (stats/cache), and the CLI
end-to-end: link → find → show callers → unlink → MVCC invisibility →
compact. Mirrors the reference e2e suite (tests/e2e/query.zig)."""

import io
import json
import textwrap

import pytest
from pyspark.sql import functions as F

from kausaldb_spark.cli import main as cli_main
from kausaldb_spark.engine import KausalEngine

# r13: heavy gauntlet — opt-in via `-m scale` (see pytest.ini); the
# default driver verify run keeps the unit + oracle-parity suites
pytestmark = pytest.mark.scale


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("proj")
    (root / "lib.py").write_text(textwrap.dedent('''
        def helper_function(x):
            return x + 1

        def main():
            return helper_function(41)
    '''))
    return str(root)


@pytest.fixture(scope="module")
def engine(spark, tree, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(tree, "proj")
    return eng


def _run(engine, *argv):
    buf = io.StringIO()
    rc = cli_main(["--store", engine.store.path, *argv], engine=engine, file=buf)
    return rc, buf.getvalue()


def test_link_and_find(engine):
    rc, out = _run(engine, "find", "--workspace", "proj", "--name", "helper_function")
    assert rc == 0
    assert "lib.py:helper_function" in out


def test_show_callers_flagship(engine):
    """The README flagship: kausal show --relation callers --target helper_function."""
    rc, out = _run(
        engine, "--format", "json", "show", "--workspace", "proj",
        "--relation", "callers", "--target", "helper_function",
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.strip().splitlines()]
    assert [r["unit_id"] for r in rows] == ["lib.py:main"]


def test_llm_format(engine):
    rc, out = _run(
        engine, "--format", "llm", "find", "--workspace", "proj", "--name", "main"
    )
    assert "--- BEGIN CONTEXT BLOCK ---" in out
    assert "--- END CONTEXT BLOCK ---" in out
    assert "def main" in out


def test_trace_paths(engine):
    rc, out = _run(
        engine, "--format", "json", "trace", "--workspace", "proj",
        "--from", "main", "--to", "helper_function",
    )
    rows = [json.loads(line) for line in out.strip().splitlines()]
    assert len(rows) == 1 and rows[0]["depth"] == 1


def test_cache_ttl_expiry(engine, monkeypatch):
    import kausaldb_spark.engine as eng_mod

    engine._cache.clear()
    engine.find_by_name("proj", "function", "main")
    m0 = engine.stats.cache_misses
    # age every entry past the TTL
    real = eng_mod.time.monotonic
    monkeypatch.setattr(eng_mod.time, "monotonic", lambda: real() + eng_mod.CACHE_TTL_SEC + 1)
    engine.find_by_name("proj", "function", "main")
    assert engine.stats.cache_misses == m0 + 1  # expired -> miss, recomputed


def test_cache_and_stats(engine):
    engine.find_by_name("proj", "function", "main")
    h0 = engine.stats.cache_hits
    engine.find_by_name("proj", "function", "main")
    assert engine.stats.cache_hits == h0 + 1
    st = engine.status()
    assert st["blocks_visible"] > 0 and st["queries"]["find_by_name"] >= 1


def test_unlink_mvcc_and_compact(spark, tree, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store2"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(tree, "proj")

    def vis_cb():
        return eng.store.visible().where(F.col("codebase") == "proj").count()

    n_cb = vis_cb()
    assert n_cb > 0
    raw1 = eng.store.blocks_raw().count()
    # second link = re-ingest: same visible set, higher sequences (MVCC);
    # raw grows by one version set + the registry-config update block
    eng.link_codebase(tree, "proj")
    assert vis_cb() == n_cb
    assert eng.store.blocks_raw().count() == raw1 + n_cb + 1
    # unlink tombstones the codebase (the workspace-config block remains)
    n = eng.unlink_codebase("proj")
    assert n == n_cb
    assert vis_cb() == 0
    # re-link after unlink resurrects (sequence above tombstones)
    eng.link_codebase(tree, "proj")
    assert vis_cb() == n_cb
    # compaction drops shadowed versions + tombstones, preserves snapshot
    eng.store.compact()
    assert eng.store.blocks_raw().count() == n_cb + 1  # + config block
    assert eng.store.tombstones().count() == 0
    assert vis_cb() == n_cb


def test_sql_views(spark, engine):
    engine.register_sql_views()
    n = spark.sql(
        "SELECT count(*) AS n FROM kausal_blocks WHERE unit_type = 'function'"
    ).collect()[0]["n"]
    assert n == 2  # helper_function + main
    joined = spark.sql("""
        SELECT b2.unit_id AS callee FROM kausal_edges e
        JOIN kausal_blocks b1 ON b1.id = e.src
        JOIN kausal_blocks b2 ON b2.id = e.dst
        WHERE b1.unit_id = 'lib.py:main' AND e.edge_type = 'calls'
    """).collect()
    assert [r["callee"] for r in joined] == ["lib.py:helper_function"]


def test_cli_sync_noop(spark, tree, tmp_path_factory):
    """An unchanged tree syncs for ~free: nothing is re-parsed, no block
    versions are appended (only the registry timestamp updates)."""
    store = str(tmp_path_factory.mktemp("store4"))
    eng = KausalEngine(spark, store)
    rc, _ = _run(eng, "link", "--path", tree, "--name", "proj")
    assert rc == 0
    n1 = eng.store.visible().count()
    raw1 = eng.store.blocks_raw().count()
    rc, out = _run(eng, "sync", "--name", "proj")  # path from the registry
    assert rc == 0
    info = json.loads(out)
    assert info["files_changed"] == 0 and info["files_removed"] == 0
    assert eng.store.visible().count() == n1
    assert eng.store.blocks_raw().count() == raw1 + 1  # registry update only


def test_cli_filter_and_ping(engine):
    rc, out = _run(
        engine, "--format", "json", "filter",
        "--where", "content:contains:helper_function",
        "--where", "metadata.unit_type:eq:function",
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.strip().splitlines()]
    assert {r["unit_id"] for r in rows} == {"lib.py:helper_function", "lib.py:main"}
    rc, out = _run(engine, "ping")
    assert rc == 0 and json.loads(out)["pong"] is True


def test_bucketed_layout_avoids_shuffle(spark, engine):
    """Edge-edge self-join (2-hop expansion) on the bucketed layout must not
    shuffle the fact table — the co-located join claim, checked in the plan."""
    engine.store.materialize_bucketed("t_cocol", buckets=4)
    e = spark.table("t_cocol_edges_b")
    # force a sort-merge join (tiny test tables would broadcast otherwise,
    # which hides the bucketing effect this test is about)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        same_src = e.alias("x").join(e.alias("y"), "src")
        plan = same_src._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
        assert same_src.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cross_workspace_isolation(spark, tree, tmp_path_factory):
    """Identical names in two workspaces: queries stay inside their
    workspace (reference e2e: cross-workspace isolation,
    tests/e2e/query.zig)."""
    store = str(tmp_path_factory.mktemp("store5"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(tree, "w1")
    eng.link_codebase(tree, "w2")
    r1 = eng.find_by_name("w1", "function", "helper_function").collect()
    r2 = eng.find_by_name("w2", "function", "helper_function").collect()
    assert len(r1) == len(r2) == 1
    assert r1[0]["codebase"] == "w1" and r2[0]["codebase"] == "w2"
    assert r1[0]["id"] != r2[0]["id"]
    # callers resolved per-workspace too
    c1 = eng.find_callers("w1", "helper_function").collect()
    assert {r["codebase"] for r in c1} == {"w1"}


def test_qualified_name_lookup(spark, tmp_path_factory):
    """find --type function --name Greeter.greet resolves the qualified
    method (reference qualified-name disambiguation)."""
    import textwrap

    root = tmp_path_factory.mktemp("qual")
    (root / "g.py").write_text(textwrap.dedent('''
        class Greeter:
            def greet(self):
                return 1

        def greet():
            return 2
    '''))
    store = str(tmp_path_factory.mktemp("store6"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(str(root), "q")
    qual = eng.find_by_name("q", "function", "Greeter.greet").collect()
    bare = eng.find_by_name("q", "function", "greet").collect()
    assert [r["unit_id"] for r in qual] == ["g.py:Greeter.greet"]
    assert [r["unit_id"] for r in bare] == ["g.py:greet"]


def test_store_pushdown_plan_regression(spark, engine):
    """Point lookups on the store must keep parquet filter pushdown, and
    workspace filters must keep partition pruning (the F6 'secondary index
    for free' claim — guard it against plan regressions)."""
    df = engine.store.blocks_raw().where(F.col("id") == "a" * 32)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), EqualTo(id," in plan
    df2 = engine.store.blocks_raw().where(F.col("codebase") == "proj")
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(codebase" in plan2


def test_edge_endpoint_enforcement(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store3"))
    eng = KausalEngine(spark, store)
    blocks = spark.createDataFrame(
        [("a" * 32, 1, "file://x#L1-1", "function", "x.py:f", "w", "x.py", "{}", "def f(): pass")],
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string, metadata_json string, content string",
    )
    eng.put_blocks(blocks)
    edges = spark.createDataFrame(
        [("a" * 32, "b" * 32, "calls"),   # dst missing
         ("a" * 32, "a" * 32, "calls")],  # self-loop
        "src string, dst string, edge_type string",
    )
    eng.store.append_edges(edges)
    assert eng.store.edges().count() == 0  # both rejected


def test_scan_match_stats_advance(spark, tmp_path_factory):
    """X4 scan/match parity (r6): with_stats=True queries count the visible
    blocks a filter scanned and the rows each answer holds; the counters
    land in status() when the call returns, before the caller reads the
    answer. Queries without the flag count nothing."""
    import textwrap

    from kausaldb_spark.operators import filtering as flt
    from kausaldb_spark.operators import traversal as tv

    root = tmp_path_factory.mktemp("statproj")
    (root / "lib.py").write_text(textwrap.dedent('''
        def helper_function(x):
            return x + 1

        def main():
            return helper_function(41)
    '''))
    eng = KausalEngine(spark, str(tmp_path_factory.mktemp("statstore")))
    eng.link_codebase(str(root), "proj")
    n_vis = eng.store.visible().count()

    st0 = eng.status()
    assert st0["rows_scanned"] == 0 and st0["rows_matched"] == 0

    expr = flt.Expr.cond(flt.TARGET_CONTENT, "contains", "helper_function")
    df = eng.filtered(expr, with_stats=True)
    st1 = eng.status()  # before any action on the answer
    n_match = df.count()
    assert n_match >= 1
    assert st1["rows_scanned"] == n_vis  # reference semantics: full scan
    assert st1["rows_matched"] == n_match

    # traversal counts its result rows too (cumulative)
    anchors = [r["id"] for r in eng.find_by_name("proj", "function", "helper_function").collect()]
    t = eng.traverse(anchors, tv.INCOMING,
                     tv.EdgeFilter.include("calls", "calls_method"),
                     max_depth=1, workspace="proj", with_stats=True)
    st2 = eng.status()
    n_t = t.count()
    assert n_t >= 1
    assert st2["rows_matched"] == n_match + n_t
    assert st2["rows_scanned"] == n_vis

    # counters land when the call returns, whether or not the caller ever
    # reads the answer; a query without the flag counts nothing
    eng.filtered(expr, with_stats=True)
    eng.filtered(expr)
    st3 = eng.status()
    assert st3["rows_matched"] == 2 * n_match + n_t
    assert st3["rows_scanned"] == 2 * n_vis


def test_ranked_search_cli(engine):
    """`search --ranked` runs multi-term ranked retrieval over block
    content: blocks containing more of the query terms rank first, ties by
    total term frequency then id."""
    # matching is exact-whitespace-token: 'def' and 'return' are clean
    # tokens of every function body ('helper_function(41)' would NOT match
    # the bare term 'helper_function' — substring search is `search`
    # without --ranked)
    out = engine.ranked_search(["def", "return"], k=10).collect()
    assert out, "linked tree must match"
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    n_terms = [r["n_terms"] for r in out]
    assert n_terms == sorted(n_terms, reverse=True)
    top = out[0]
    assert top["n_terms"] == 2

    rc, text = _run(
        engine, "--format", "json", "search", "--query", "def return",
        "--ranked", "--limit", "5",
    )
    assert rc == 0
    rows = [json.loads(line) for line in text.strip().splitlines() if line]
    assert rows and rows[0]["rank"] == 1
    assert {"id", "unit_id", "codebase", "n_terms", "total_tf", "rank"} <= set(rows[0])
