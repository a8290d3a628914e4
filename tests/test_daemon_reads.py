"""Daemon reads over the persisted per-mark views: lookups, search and
filters scan ``BlockStore.snapshot()``, traversals its edge twin, and path
enumeration runs on the driver-held level loop. Pins the Spark work of a
read on warm snapshots, the columns of the show answers, and the
driver-to-distributed crossover of path enumeration."""

import textwrap
import threading

import pytest
from conftest import spark_jobs

from kausaldb_spark.engine import KausalEngine
from kausaldb_spark.operators import filtering as flt
from kausaldb_spark.operators import traversal as tv

# entry -> step1 -> step2 -> step3 -> leaf and entry -> side -> step2: two
# depth-4 paths from entry to leaf
TREE = {
    "a.py": """
        def entry():
            return step1() + side()
    """,
    "b.py": """
        def step1():
            return step2()

        def side():
            return step2()
    """,
    "c.py": """
        def step2():
            return step3()
    """,
    "d.py": """
        def step3():
            return leaf()
    """,
    "e.py": """
        def leaf():
            return 0
    """,
}

# Spark jobs of reads on warm snapshots with the answer cache empty, on 4
# and 8 cores. An answer is collected once and read back as a local
# relation: a name lookup is one job, and the same lookup again none. `show
# callers` runs 5: its anchor lookup and 4 for the one-level traversal and
# the join of its answer to the blocks. A depth-4 trace runs 6: two anchor
# lookups and one successor lookup per level (the path frame is built on
# the driver and collected without a job).
SHOW_CALLERS_JOBS = 5
TRACE_JOB_CEILING = 6


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("reads_tree")
    for name, body in TREE.items():
        (root / name).write_text(textwrap.dedent(body))
    eng = KausalEngine(spark, str(tmp_path_factory.mktemp("reads_store")))
    eng.link_codebase(str(root), "w")
    return eng


def test_reads_on_warm_snapshots(spark, engine):
    """With both snapshots filled and the answer cache empty, a name lookup
    that finds nothing is one job and the same lookup again none, `show
    callers` runs its pinned jobs, a depth-4 trace stays under its ceiling,
    a filter launches at most one task per core, and status() counts what
    visible() counts."""
    engine.store.snapshot().count()
    engine.store.edges_snapshot().count()
    engine._cache.clear()

    with spark_jobs(spark, "find-miss") as find:
        engine.find_by_name("w", "function", "no_such_name")
    assert len(find["jobs"]) == 1, find
    with spark_jobs(spark, "find-again") as again:
        assert engine.find_by_name("w", "function", "no_such_name").collect() == []
    assert again["jobs"] == [], again

    with spark_jobs(spark, "show-callers") as show:
        callers = engine.find_callers("w", "step2").limit(1000).collect()
    assert sorted(r["unit_id"] for r in callers) == ["b.py:side", "b.py:step1"]
    assert len(show["jobs"]) == SHOW_CALLERS_JOBS, show

    with spark_jobs(spark, "trace") as trace:
        paths = engine.trace_paths("w", "entry", "leaf", max_depth=4).collect()
    assert [r["depth"] for r in paths] == [4, 4]
    assert len(trace["jobs"]) <= TRACE_JOB_CEILING, trace

    expr = flt.Expr.cond(flt.TARGET_METADATA, "eq", "function", "unit_type")
    with spark_jobs(spark, "filter") as filt:
        rows = engine.filtered(expr).collect()
    assert len(rows) == 6
    assert 0 < filt["tasks"] <= spark.sparkContext.defaultParallelism, filt

    st = engine.status()
    assert st["blocks_visible"] == engine.store.visible().count()
    assert st["edges"] == engine.store.visible_edges().count()


def test_with_stats_filter_counts_its_scan_and_never_waits(engine):
    """A with-stats filter adds the visible blocks its scan read to
    rows_scanned before it returns. A zero limit plans as an empty
    relation with no scan to observe: the call returns, with no rows, and
    counts no scanned rows."""
    expr = flt.Expr.cond(flt.TARGET_METADATA, "eq", "function", "unit_type")
    n_vis = engine.store.visible().count()
    before = engine.status()["rows_scanned"]
    assert len(engine.filtered(expr, with_stats=True).collect()) == 6
    assert engine.status()["rows_scanned"] == before + n_vis

    answer = []
    # a thread, so that a call that waits for a count no action will
    # fill fails this test instead of hanging the run
    call = threading.Thread(
        target=lambda: answer.append(engine.filtered(expr, max_results=0, with_stats=True)),
        daemon=True,
    )
    call.start()
    call.join(timeout=120)
    assert answer, "filtered(max_results=0, with_stats=True) raised or did not return"
    assert answer[0].collect() == []
    assert engine.status()["rows_scanned"] == before + n_vis


def test_show_answers_keep_the_traverse_columns(engine):
    """A name with no anchor answers an empty frame with the columns and
    types of a traversal answer."""
    hit = engine.find_callers("w", "step2")
    assert sorted(r["unit_id"] for r in hit.collect()) == ["b.py:side", "b.py:step1"]
    for show in (engine.find_callers, engine.find_callees, engine.find_references):
        miss = show("w", "no_such_name")
        assert miss.dtypes == hit.dtypes
        assert miss.collect() == []


def test_path_enumeration_crosses_to_distributed_mid_traversal(spark, monkeypatch):
    """A frontier cap below the second level's size moves the enumeration
    from the driver to the distributed join at depth 2; the rows equal the
    driver-only answer and the hand-enumerated simple paths."""
    layer_a, layer_b = ["a1", "a2", "a3"], ["b1", "b2", "b3"]
    rows = (
        [("s", a) for a in layer_a]
        + [(a, b) for a in layer_a for b in layer_b]
        + [(b, "t") for b in layer_b]
        + [("b1", "s"), ("t", "a1"), ("a2", "t")]  # cycles and a short cut
    )
    e = spark.createDataFrame(
        [(s, d, "calls") for s, d in rows], "src string, dst string, edge_type string"
    )
    want = [("s->a2->t", 2)] + sorted(
        (f"s->{a}->{b}->t", 3) for a in layer_a for b in layer_b
    )

    driver = [tuple(r) for r in tv.find_paths_between(e, "s", "t", max_depth=5).collect()]
    assert driver == want

    starts = []
    distributed = tv._paths_distributed

    def spy(adj, frontier, target_id, depth, *rest):
        starts.append(depth)
        return distributed(adj, frontier, target_id, depth, *rest)

    monkeypatch.setattr(tv, "_paths_distributed", spy)
    monkeypatch.setattr(tv, "PATH_FRONTIER_CAP", 4)
    crossed = [tuple(r) for r in tv.find_paths_between(e, "s", "t", max_depth=5).collect()]
    assert starts == [2]
    assert crossed == want
