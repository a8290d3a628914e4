"""Expected answers for every daemon request, computed from a tree model.

Each ``expect_*`` returns what the CLI must print for one request; ``check``
compares a daemon response with it. Semantics follow the CLI verbs: ``show``
walks one hop over calls/calls_method (callers, callees); ``trace`` lists
every simple path over all edge types, shortest first, capped at 100 (from a
unit to itself, only the empty path); keyword search keeps blocks containing
at least 70% of the query words; filter counts function blocks.
"""

from __future__ import annotations

import json

from gen_tree import Tree, block_id

CALL_TYPES = ("calls", "calls_method")
MAX_PATHS = 100


class Oracle:
    def __init__(self, tree: Tree, codebase: str):
        self.cb = codebase
        self.units = tree.units()
        self.edges = tree.edges()
        self.by_qual: dict[tuple[str, str], list[str]] = {}
        for u in self.units:
            self.by_qual.setdefault((u["type"], u["qual"]), []).append(u["uid"])
        self.adj: dict[str, set[str]] = {}
        for s, d, _ in self.edges:
            self.adj.setdefault(s, set()).add(d)

    def _anchors(self, name: str, types: tuple[str, ...]) -> list[str]:
        for t in types:
            hit = self.by_qual.get((t, name))
            if hit:
                return hit
        return []

    def expect_find(self, name: str, utype: str = "function") -> set[str]:
        return set(self.by_qual.get((utype, name), []))

    def expect_show(self, relation: str, name: str) -> set[str]:
        """``relation`` is "callers" or "callees"."""
        if relation == "callers":
            anchors = set(self._anchors(name, ("function", "type")))
            return {s for s, d, t in self.edges if t in CALL_TYPES and d in anchors}
        anchors = set(self._anchors(name, ("function",)))
        return {d for s, d, t in self.edges if t in CALL_TYPES and s in anchors}

    def expect_trace(self, a: str, b: str, depth: int) -> list[str]:
        src = self._anchors(a, ("function", "type"))
        dst = self._anchors(b, ("function", "type"))
        if not src or not dst:
            return []
        start, goal = src[0], dst[0]
        if start == goal:  # the empty path; a simple path cannot come back
            return [block_id(self.cb, start)]
        paths: list[tuple[int, str]] = []

        def walk(node: str, path: list[str]) -> None:
            if len(path) - 1 >= depth:
                return
            for nxt in self.adj.get(node, ()):
                if nxt in path:
                    continue
                if nxt == goal:
                    ids = [block_id(self.cb, u) for u in path + [nxt]]
                    paths.append((len(path), "->".join(ids)))
                else:
                    walk(nxt, path + [nxt])

        walk(start, [start])
        return [p for _, p in sorted(paths)[:MAX_PATHS]]

    def reachable(self, a: str, depth: int) -> list[str]:
        """Function/type quals reachable from ``a`` in 1..depth hops."""
        src = self._anchors(a, ("function", "type"))
        if not src:
            return []
        seen, frontier = {src[0]}, {src[0]}
        for _ in range(depth):
            frontier = {n for f in frontier for n in self.adj.get(f, ())} - seen
            seen |= frontier
        quals = {u["uid"]: u["qual"] for u in self.units
                 if u["type"] in ("function", "type")}
        return sorted(quals[u] for u in seen - {src[0]} if u in quals)

    def expect_keyword(self, query: str, threshold: float = 0.7) -> set[str]:
        words = [w for w in query.split(" ") if w]
        out = set()
        for u in self.units:
            hit = sum(1 for w in words if w in u["markers"])
            if hit / len(words) >= threshold:
                out.add(u["uid"])
        return out

    def expect_filter(self, mk: str) -> int:
        return sum(1 for u in self.units if u["type"] == "function" and mk in u["markers"])


def rows_of(resp: dict) -> list[dict]:
    return [json.loads(line) for line in resp.get("output", "").splitlines() if line.strip()]


def check(kind: str, args: tuple, resp: dict, oracle: Oracle) -> bool:
    """True when the daemon's response is the expected answer."""
    if kind == "find":
        want = oracle.expect_find(*args)
        # an empty find is exit 1 by CLI contract; anything else must be ok
        if not want:
            return resp.get("exit") == 1 and not rows_of(resp)
        return resp.get("ok") and {r["unit_id"] for r in rows_of(resp)} == want
    if not resp.get("ok"):
        return False
    rows = rows_of(resp)
    if kind == "show":
        return {r["unit_id"] for r in rows} == oracle.expect_show(*args)
    if kind == "trace":
        return [r["path"] for r in rows] == oracle.expect_trace(*args)
    if kind == "search":
        return {r["unit_id"] for r in rows} == oracle.expect_keyword(*args)
    if kind == "filter":
        return len(rows) == oracle.expect_filter(*args) and all(
            r["unit_type"] == "function" and args[0] in r["content"] for r in rows)
    raise ValueError(f"unknown request kind {kind!r}")
