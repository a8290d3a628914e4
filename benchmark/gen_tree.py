"""Seeded Python source tree with a recorded code graph, plus its edit script.

The tree is three packages of modules. As generated, the call graph is a
DAG: a function calls functions of its own module defined before it and
functions of lower-numbered modules (an edited body may call any of them). Every defined name (function, class, method, constant, aliased
import) is unique in the tree, so each call resolves to exactly one unit.

The model keeps what the source says, not what the store holds: ``edges()``
applies the program's documented resolution rule (same file first, then the
name's unique definition anywhere) to the model, which is the ground truth a
fresh ``link`` of the rendered tree must reproduce.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

PACKAGES = ("core", "util", "app")
N_MARKERS = 48
BUILTINS = ("len", "str", "sorted", "min")


def marker(i: int) -> str:
    """Fixed-width search token: no marker is a substring of another."""
    return f"mk{i:04d}"


@dataclass
class Func:
    name: str                      # qualified: "f03_2" or "C03_1.c03_1_m0"
    calls: list[tuple] = field(default_factory=list)
    markers: tuple[str, ...] = ()

    @property
    def bare(self) -> str:
        return self.name.rsplit(".", 1)[-1]


@dataclass
class Cls:
    name: str
    base: str | None
    methods: list[Func] = field(default_factory=list)


@dataclass
class Module:
    idx: int
    pkg: str
    consts: list[str] = field(default_factory=list)
    funcs: list[Func] = field(default_factory=list)
    classes: list[Cls] = field(default_factory=list)
    # (defining module idx, function name, alias) — `from p.m import f as a`
    aliases: list[tuple[int, str, str]] = field(default_factory=list)

    @property
    def name(self) -> str:
        return f"m{self.idx:02d}"

    @property
    def rel(self) -> str:
        return f"{self.pkg}/{self.name}.py"


class Tree:
    """The model of one generated tree; ``files`` renders its sources."""

    def __init__(self, seed: int, n_modules: int = 24, funcs_per_module: int = 7,
                 classes_per_module: int = 1, methods_per_class: int = 3):
        self.rng = random.Random(seed)
        self.modules: list[Module] = []
        self._counter = 0
        for i in range(n_modules):
            m = Module(i, PACKAGES[i * len(PACKAGES) // n_modules])
            self.modules.append(m)
            m.consts = [f"K{i:02d}_{k}" for k in range(2)]
            for k in range(classes_per_module):
                c = Cls(f"C{i:02d}_{k}", m.classes[-1].name if m.classes else None)
                m.classes.append(c)
                for j in range(methods_per_class):
                    meth = Func(f"{c.name}.c{i:02d}_{k}_m{j}",
                                markers=self._markers())
                    meth.calls = self._method_calls(m, c, meth)
                    c.methods.append(meth)
            for _ in range(funcs_per_module):
                m.funcs.append(self._new_func(m))
            if i > 0:
                for _ in range(self.rng.randint(0, 2)):
                    src = self.modules[self.rng.randrange(i)]
                    if src.funcs:
                        f = self.rng.choice(src.funcs).name
                        m.aliases.append((src.idx, f, f"imp_{f}_{m.name}"))

    # -- generation ----------------------------------------------------------

    def _markers(self) -> tuple[str, ...]:
        a, b = self.rng.sample(range(N_MARKERS), 2)
        return (marker(a), marker(b))

    def _fresh_name(self, m: Module) -> str:
        self._counter += 1
        return f"f{m.idx:02d}_{self._counter}"

    def _call_targets(self, m: Module, exclude: str | None = None) -> list[tuple]:
        """Seeded call list for a module-level function of ``m``: earlier
        functions of ``m``, classes of ``m``, functions of lower modules."""
        calls: list[tuple] = []
        local = [f.name for f in m.funcs if f.name != exclude]
        if local and self.rng.random() < 0.7:
            calls.append(("local", self.rng.choice(local)))
        if m.idx > 0:
            for _ in range(self.rng.randint(1, 2)):
                o = self.modules[self.rng.randrange(max(0, m.idx - 6), m.idx)]
                if o.funcs:
                    calls.append(("mod", o.idx, self.rng.choice(o.funcs).name))
        if m.classes and self.rng.random() < 0.3:
            c = self.rng.choice(m.classes)
            calls.append(("local", c.name))
            calls.append(("attr", self.rng.choice(c.methods).bare))
        calls.append(("builtin", self.rng.choice(BUILTINS)))
        return calls

    def _method_calls(self, m: Module, c: Cls, meth: Func) -> list[tuple]:
        calls: list[tuple] = []
        if c.methods and self.rng.random() < 0.7:
            calls.append(("self", self.rng.choice(c.methods).bare))
        if m.idx > 0 and self.rng.random() < 0.6:
            o = self.modules[self.rng.randrange(max(0, m.idx - 4), m.idx)]
            if o.funcs:
                calls.append(("mod", o.idx, self.rng.choice(o.funcs).name))
        calls.append(("builtin", self.rng.choice(BUILTINS)))
        return calls

    def _new_func(self, m: Module) -> Func:
        f = Func(self._fresh_name(m), markers=self._markers())
        f.calls = self._call_targets(m)
        return f

    # -- edits (the edit_sync workload) ----------------------------------------

    def edit(self) -> dict:
        """One seeded edit of three files: one gets a new function, one a
        changed body (new calls), one loses a function. The shape is the
        same every time, so syncs differ only by which names they touch.
        Returns {"files": [rel...], "names": [added or changed functions],
        "deleted": [deleted functions]}."""
        touched = self.rng.sample(self.modules[1:], 3)
        kinds = ["add", "change", "delete"]
        self.rng.shuffle(kinds)
        out = {"files": [], "names": [], "deleted": []}
        for m, kind in zip(touched, kinds):
            if kind == "delete" and len(m.funcs) <= 2:
                kind = "add"
            if kind == "add":
                f = self._new_func(m)
                m.funcs.append(f)
                out["names"].append(f.name)
            elif kind == "change":
                f = self.rng.choice(m.funcs)
                f.calls = self._call_targets(m, exclude=f.name)
                out["names"].append(f.name)
            else:
                f = self.rng.choice(m.funcs)
                m.funcs.remove(f)
                out["deleted"].append(f.name)
            out["files"].append(m.rel)
        return out

    # -- rendering -------------------------------------------------------------

    def _call_expr(self, call: tuple, arg: str) -> str:
        kind = call[0]
        if kind == "mod":
            return f"{self.modules[call[1]].name}.{call[2]}({arg})"
        if kind == "self":
            return f"self.{call[1]}({arg})"
        if kind == "attr":
            return f"obj.{call[1]}({arg})"
        return f"{call[1]}({arg})"

    def _body(self, f: Func, indent: str) -> list[str]:
        lines = [f"{indent}# {' '.join(f.markers)}"]
        var = "x"
        for n, call in enumerate(f.calls):
            if call[0] == "attr":
                lines.append(f"{indent}obj = x")
            lines.append(f"{indent}v{n} = {self._call_expr(call, var)}")
            var = f"v{n}"
        lines.append(f"{indent}return {var}")
        return lines

    def render_module(self, m: Module) -> str:
        lines = [f'"""Generated module {m.name}."""', ""]
        imported = sorted({c[1] for f in self._all_funcs(m) for c in f.calls
                           if c[0] == "mod"})
        for idx in imported:
            o = self.modules[idx]
            lines.append(f"from {o.pkg} import {o.name}")
        for idx, fname, alias in m.aliases:
            o = self.modules[idx]
            lines.append(f"from {o.pkg}.{o.name} import {fname} as {alias}")
        lines.append("")
        for k, const in enumerate(m.consts):
            lines.append(f"{const} = {m.idx * 10 + k}")
        for c in m.classes:
            lines += ["", ""]
            lines.append(f"class {c.name}({c.base}):" if c.base else f"class {c.name}:")
            for meth in c.methods:
                lines.append(f"    def {meth.bare}(self, x):")
                lines += self._body(meth, "        ")
        for f in m.funcs:
            lines += ["", ""]
            lines.append(f"def {f.name}(x):")
            lines += self._body(f, "    ")
        return "\n".join(lines) + "\n"

    def files(self) -> dict[str, str]:
        """rel path -> source text, package markers included."""
        out = {f"{p}/__init__.py": "" for p in PACKAGES}
        for m in self.modules:
            out[m.rel] = self.render_module(m)
        return out

    def write(self, root: str, only: list[str] | None = None) -> int:
        """Write the tree (or only the given rel paths); returns bytes written."""
        total = 0
        for rel, text in self.files().items():
            if only is not None and rel not in only:
                continue
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            data = text.encode()
            with open(path, "wb") as fh:
                fh.write(data)
            total += len(data)
        return total

    # -- ground truth ----------------------------------------------------------

    @staticmethod
    def _all_funcs(m: Module) -> list[Func]:
        return [meth for c in m.classes for meth in c.methods] + list(m.funcs)

    def units(self) -> list[dict]:
        """Every unit the parser yields: {uid, type, bare, rel, markers}."""
        out = []
        for m in self.modules:
            def unit(utype, qual, markers=()):
                out.append({"uid": f"{m.rel}:{qual}", "type": utype,
                            "bare": qual.rsplit(".", 1)[-1], "rel": m.rel,
                            "qual": qual, "markers": tuple(markers)})
            imported = sorted({c[1] for f in self._all_funcs(m) for c in f.calls
                               if c[0] == "mod"})
            for idx in imported:
                unit("import", self.modules[idx].name)
            for _, _, alias in m.aliases:
                unit("import", alias)
            for const in m.consts:
                unit("const", const)
            for c in m.classes:
                # a class's source segment holds its methods' bodies
                unit("type", c.name, [mk for meth in c.methods for mk in meth.markers])
                for meth in c.methods:
                    unit("function", meth.name, meth.markers)
            for f in m.funcs:
                unit("function", f.name, f.markers)
        return out

    def edges(self) -> set[tuple[str, str, str]]:
        """(src uid, dst uid, edge type) under the resolution rule: a raw
        target resolves to the same file's unit of that bare name, else to
        the codebase's unique unit of that bare name, else it is dropped."""
        units = self.units()
        per_file = {(u["rel"], u["bare"]): u["uid"] for u in units}
        by_bare: dict[str, set[str]] = {}
        for u in units:
            by_bare.setdefault(u["bare"], set()).add(u["uid"])

        def resolve(rel: str, name: str) -> str | None:
            hit = per_file.get((rel, name))
            if hit is None and len(by_bare.get(name, ())) == 1:
                hit = next(iter(by_bare[name]))
            return hit

        out = set()

        def add(rel, src_qual, dst_name, etype):
            src = f"{rel}:{src_qual}"
            dst = resolve(rel, dst_name)
            if dst is not None and dst != src:
                out.add((src, dst, etype))

        for m in self.modules:
            for _, fname, alias in m.aliases:
                add(m.rel, alias, fname, "imports")
            for c in m.classes:
                if c.base:
                    add(m.rel, c.name, c.base, "extends")
                for meth in c.methods:
                    add(m.rel, meth.name, c.name, "method_of")
            for f in self._all_funcs(m):
                for call in f.calls:
                    if call[0] in ("local", "builtin"):
                        add(m.rel, f.name, call[1], "calls")
                    elif call[0] == "mod":
                        add(m.rel, f.name, call[2], "calls_method")
                    else:  # self.x() / obj.x()
                        add(m.rel, f.name, call[1], "calls_method")
        return out

    def names(self) -> list[str]:
        """Query targets: qualified function/method names and class names."""
        return [u["qual"] for u in self.units() if u["type"] in ("function", "type")]


def block_id(codebase: str, uid: str) -> str:
    """The store's block id for a unit (md5 of codebase/unit_id)."""
    return hashlib.md5(f"{codebase}/{uid}".encode()).hexdigest()
