"""Property tests: the driver-side fast paths (Kahn peel, union-find, path
enumeration) must agree with their distributed fallbacks on random graphs."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kausaldb_spark.operators import traversal as tv

import pytest

# r13: heavy gauntlet — opt-in via `-m scale` (see pytest.ini); the
# default driver verify run keeps the unit + oracle-parity suites
pytestmark = pytest.mark.scale


def _dag_edges(draw, n_nodes: int):
    """Random DAG: edges only from lower to higher node index."""
    pairs = draw(
        st.sets(
            st.tuples(
                st.integers(0, n_nodes - 2), st.integers(1, n_nodes - 1)
            ).filter(lambda p: p[0] < p[1]),
            max_size=n_nodes * 3,
        )
    )
    return [(f"n{a:02d}", f"n{b:02d}", "calls") for a, b in pairs]


@st.composite
def dag(draw):
    n = draw(st.integers(3, 12))
    edges = _dag_edges(draw, n)
    # ensure the start node has at least one edge so the subgraph is nonempty
    edges.append(("n00", f"n{draw(st.integers(1, n - 1)):02d}", "calls"))
    return edges


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(dag())
def test_topo_driver_peel_matches_distributed(spark, edges):
    e = spark.createDataFrame(edges, "src string, dst string, edge_type string")
    fast = {(r["id"], r["layer"]) for r in tv.topo_sort(e, ["n00"], max_depth=12).collect()}
    old_cap = tv.TOPO_COLLECT_EDGE_CAP
    tv.TOPO_COLLECT_EDGE_CAP = 0  # force the distributed peel
    try:
        slow = {
            (r["id"], r["layer"]) for r in tv.topo_sort(e, ["n00"], max_depth=12).collect()
        }
    finally:
        tv.TOPO_COLLECT_EDGE_CAP = old_cap
    assert fast == slow


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.sets(
        st.tuples(st.integers(0, 19), st.integers(0, 19)).filter(lambda p: p[0] < p[1]),
        min_size=1,
        max_size=30,
    )
)
def test_union_find_matches_wcc(spark, pairs):
    """Driver union-find component labels == distributed WCC min-labels on
    the same pair graph."""
    rows = [(str(a), str(b), "near_dup") for a, b in pairs]
    e = spark.createDataFrame(rows, "src string, dst string, edge_type string")
    wcc = {
        r["id"]: r["component"]
        for r in tv.weakly_connected_components(e).collect()
    }
    # reference union-find (same min-root convention as near_dup_clusters)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        a, b = str(a), str(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    uf = {x: find(x) for x in parent}
    assert uf == wcc


@st.composite
def cyclic_graph(draw):
    """Random directed multigraph with cycles and self-loops allowed."""
    n = draw(st.integers(3, 9))
    node = st.integers(0, n - 1).map(lambda i: f"n{i:02d}")
    return draw(st.lists(st.tuples(node, node), min_size=1, max_size=n * 4))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(cyclic_graph(), st.integers(0, 8), st.integers(0, 8), st.integers(1, 6))
def test_path_enumeration_driver_matches_distributed(spark, pairs, a, b, depth):
    """Driver-held path enumeration == the distributed frontier join (cap
    0 hands every level that has paths to it) on random cyclic graphs."""
    e = spark.createDataFrame(
        [(s, d, "calls") for s, d in pairs], "src string, dst string, edge_type string"
    )
    src, dst = f"n{a:02d}", f"n{b:02d}"
    fast = [tuple(r) for r in tv.find_paths_between(e, src, dst, max_depth=depth).collect()]
    old_cap = tv.PATH_FRONTIER_CAP
    tv.PATH_FRONTIER_CAP = 0  # force the distributed join from depth 1
    try:
        slow = [
            tuple(r) for r in tv.find_paths_between(e, src, dst, max_depth=depth).collect()
        ]
    finally:
        tv.PATH_FRONTIER_CAP = old_cap
    assert fast == slow


# -- funnel + cohort retention vs brute-force models (random event sets) -----

def test_funnel_and_cohort_match_bruteforce_random(spark):
    import random

    from kausaldb_spark.sources.events import DAY_US, cohort_retention, funnel

    rng = random.Random(23)
    types = ["view", "click", "purchase"]
    H = 3_600_000_000
    for trial in range(4):
        rows = []
        for eid in range(rng.randint(20, 60)):
            rows.append((
                eid,
                rng.randint(0, 80) * H + rng.randint(0, 3599) * 1_000_000,
                f"u{rng.randint(0, 7)}",
                rng.choice(types),
                0.0,
            ))
        ev = spark.createDataFrame(
            rows,
            "event_id long, us long, user_id string, event_type string, value double",
        )
        within = 24 * H

        # funnel model: greedy earliest match per user
        by_user = {}
        for _, us, u, t, _v in rows:
            by_user.setdefault(u, []).append((us, t))
        want = [0, 0, 0]
        for u, evs in by_user.items():
            evs.sort()
            prev = None
            for i, step in enumerate(types):
                nxt = [us for us, t in evs if t == step and (
                    prev is None or (prev < us <= prev + within))]
                if not nxt:
                    break
                prev = min(nxt)
                want[i] += 1
        got = {r["step_idx"]: r["n_users"] for r in funnel(ev, types).collect()}
        assert [got[1], got[2], got[3]] == want, f"trial {trial}"

        # cohort model
        days = {(u, us // DAY_US) for _, us, u, _t, _v in rows}
        first = {}
        for u, d in sorted(days):
            first.setdefault(u, d)
        cells = {}
        for u, d in days:
            off = d - first[u]
            if off <= 30:
                cells[(first[u], off)] = cells.get((first[u], off), 0) + 1
        got_c = {
            (r["cohort_day"], r["day_offset"]): r["n_active"]
            for r in cohort_retention(ev, max_offset=30).collect()
        }
        assert got_c == cells, f"trial {trial}"
