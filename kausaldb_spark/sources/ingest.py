"""Source-tree ingestion: directory walk → distributed parse → blocks/edges.

Reference pipeline (SURVEY.md §3.3): file discovery with extension/size
filters (``src/ingestion/ingest_directory.zig:37-173``), per-file AST parse
emitting units (function/type/const/var/import/test) and syntactic edges
(``src/ingestion/parsers/zig_parser.zig:23-68``), semantic resolution of edge
targets to qualified names (``src/ingestion/semantic_resolver.zig:88-163``),
then block/edge writes (``src/ingestion/ingest_file.zig:85-118``).

Spark shape: the *driver* lists files (cheap metadata op), executors read and
parse them via ``mapInPandas`` batches (the parser is Python ``ast`` — a real
parser has no JVM builtin, so this is the legitimate Pandas-UDF tier), and
resolution is same-file first (answered by the task that parsed the file),
then one aggregation of the codebase's symbols by bare name and one join —
never a driver-side loop over units.

At 100 TB (monorepo-scale ingest): file listing comes from a manifest table
instead of os.walk; parse stays embarrassingly parallel (one file never
spans partitions); the resolver joins shuffle by symbol name — skew on hub
names (e.g. ``main``) is why the symbol table keeps (codebase, name) as the
key, bounding any one group by the codebase size.
"""

from __future__ import annotations

import fnmatch
import os
import re
import subprocess
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_EXTENSIONS = (".py",)
ZIG_EXTENSIONS = (".zig",)
TEXT_EXTENSIONS = (".md", ".txt", ".rst")
CODE_EXTENSIONS = DEFAULT_EXTENSIONS + ZIG_EXTENSIONS
MAX_FILE_SIZE = 1_048_576  # 1 MiB cap, mirrors ingest_directory.zig config


@dataclass(frozen=True)
class IngestConfig:
    """File-discovery configuration — parity with the reference's
    ``IngestionConfig`` (``src/ingestion/ingest_directory.zig:37-173``):
    per-config extension set, include/exclude glob patterns over the
    relative path, size cap, and git-aware listing (``git ls-files``
    honors .gitignore like the reference's walker honors its excludes;
    falls back to a plain directory walk outside a repo)."""

    extensions: tuple[str, ...] = CODE_EXTENSIONS + TEXT_EXTENSIONS
    include: tuple[str, ...] = ()  # glob patterns; empty = everything
    exclude: tuple[str, ...] = ()  # e.g. ("vendor/*", "*_generated.py")
    max_file_size: int = MAX_FILE_SIZE
    prefer_git: bool = True

    def admits(self, rel_path: str) -> bool:
        if not rel_path.endswith(self.extensions):
            return False
        if self.include and not any(fnmatch.fnmatch(rel_path, p) for p in self.include):
            return False
        return not any(fnmatch.fnmatch(rel_path, p) for p in self.exclude)

_UNIT_SCHEMA = StructType(
    [
        StructField("file_path", StringType()),
        StructField("unit_type", StringType()),
        StructField("name", StringType()),          # qualified: Class.method
        StructField("container", StringType()),     # enclosing class or ''
        StructField("line_start", LongType()),
        StructField("line_end", LongType()),
        StructField("content", StringType()),
        StructField("parse_error", StringType()),
    ]
)

_EDGE_SCHEMA = StructType(
    [
        StructField("file_path", StringType()),
        StructField("src_name", StringType()),      # qualified unit name
        StructField("dst_name", StringType()),      # raw target (unresolved)
        StructField("edge_type", StringType()),
        # the same-file unit dst_name resolves to, or NULL (_local_targets)
        StructField("dst_local", StringType()),
    ]
)


def _git_candidates(root: str) -> list[str] | None:
    """Relative paths from ``git ls-files`` (tracked + untracked-unignored,
    the reference walker's effective file set); None when root is not a
    work tree or git is unavailable."""
    try:
        res = subprocess.run(
            ["git", "-C", root, "ls-files", "--cached", "--others",
             "--exclude-standard"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if res.returncode != 0:
        return None
    return [p for p in res.stdout.splitlines() if p]


def _walk_candidates(root: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__pycache__"))]
        for fn in sorted(filenames):
            out.append(os.path.relpath(os.path.join(dirpath, fn), root))
    return out


def list_files(
    root: str,
    extensions: tuple[str, ...] | None = None,
    max_size: int | None = None,
    config: IngestConfig | None = None,
) -> list[tuple[str, str]]:
    """(abs_path, rel_path) of ingestible files under root. Driver-side —
    directory metadata, not data. ``config`` carries the discovery policy;
    the ``extensions``/``max_size`` kwargs are a back-compat shorthand."""
    if config is None:
        config = IngestConfig(
            extensions=extensions or IngestConfig.extensions,
            max_file_size=max_size or MAX_FILE_SIZE,
        )
    candidates = _git_candidates(root) if config.prefer_git else None
    if candidates is None:
        candidates = _walk_candidates(root)
    out = []
    for rel in candidates:
        if not config.admits(rel):
            continue
        ap = os.path.join(root, rel)
        try:
            if os.path.getsize(ap) > config.max_file_size:
                continue
        except OSError:
            continue
        out.append((ap, rel))
    return sorted(out, key=lambda x: x[1])


def _parse_python(rel_path: str, source: str) -> tuple[list, list]:
    """One file → (units, syntactic edges). Pure Python, runs on executors."""
    import ast

    units, edges = [], []
    lines = source.splitlines()

    def seg(node):
        a, b = node.lineno, getattr(node, "end_lineno", node.lineno)
        return "\n".join(lines[a - 1 : b]), a, b

    try:
        tree = ast.parse(source)
    except SyntaxError as exc:
        return [(rel_path, "document", os.path.basename(rel_path), "", 1,
                 max(1, len(lines)), source, f"syntax error: {exc.msg}")], []

    class Walker(ast.NodeVisitor):
        def __init__(self):
            self.container = ""

        def _unit(self, node, unit_type, name):
            content, a, b = seg(node)
            qual = f"{self.container}.{name}" if self.container else name
            units.append((rel_path, unit_type, qual, self.container, a, b, content, None))
            return qual

        def visit_FunctionDef(self, node, is_async=False):
            unit_type = "test" if node.name.startswith("test_") else "function"
            qual = self._unit(node, unit_type, node.name)
            if self.container:
                edges.append((rel_path, qual, self.container, "method_of"))
            for call in ast.walk(node):
                if isinstance(call, ast.Call):
                    fn = call.func
                    if isinstance(fn, ast.Name):
                        edges.append((rel_path, qual, fn.id, "calls"))
                    elif isinstance(fn, ast.Attribute):
                        edges.append((rel_path, qual, fn.attr, "calls_method"))
            # do not recurse: nested defs belong to their parent's content

        def visit_AsyncFunctionDef(self, node):
            self.visit_FunctionDef(node)

        def visit_ClassDef(self, node):
            qual = self._unit(node, "type", node.name)
            for base in node.bases:
                if isinstance(base, ast.Name):
                    edges.append((rel_path, qual, base.id, "extends"))
            prev, self.container = self.container, node.name
            for child in node.body:
                self.visit(child)
            self.container = prev

        def visit_Import(self, node):
            for alias in node.names:
                qual = self._unit(node, "import", alias.asname or alias.name.split(".")[0])
                edges.append((rel_path, qual, alias.name, "imports"))

        def visit_ImportFrom(self, node):
            for alias in node.names:
                qual = self._unit(node, "import", alias.asname or alias.name)
                edges.append((rel_path, qual, alias.name, "imports"))

        def visit_Assign(self, node):
            if not self.container:
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        ut = "const" if tgt.id.isupper() else "var"
                        self._unit(node, ut, tgt.id)

    w = Walker()
    for child in tree.body:
        w.visit(child)
    return units, edges


# -- Zig parser tier ---------------------------------------------------------
# Tokenizer + declaration-level recursive descent matching the unit taxonomy
# of the reference's AST walker (src/ingestion/parsers/zig_parser.zig:
# 80-134,317-440): units function/type/const/var/import/test with
# Container.name qualification, edges calls / calls_method / method_of /
# imports. tree-sitter is not in the container, so this is a pure-Python
# lexical scan (real string/char/multiline-string/comment handling — braces
# inside literals can never confuse structure) followed by a decl-grammar
# walk (the reference's walker only consumes decl-level structure,
# zig_parser.zig:71-671).
#
# Scope rules match the reference's golden cases (zig_parser.zig:683-975):
# TYPE and IMPORT decls are emitted at ANY scope, including inside function
# bodies ("parse nested function", "parse local const struct declaration"
# require Inner/LocalStruct units). Plain const/var decls are likewise
# emitted at ANY scope (the reference's process_var_decl: "create unit
# regardless of scope", zig_parser.zig:497-498), EXCEPT:
# - test bodies: walk_children has no .test_decl arm
#   (zig_parser.zig:138-316), so nothing inside a test yields units;
# - comptime BLOCKS (`comptime { ... }`): the .@"comptime" node likewise
#   has no walk_children arm, so their contents are never walked (r7 —
#   the line heuristic used to leak these).
# Anonymous containers in expression position (`List(struct { ... })`)
# have their members walked with a NULL container context — the
# reference's process_container_decl only recovers a name from a
# literal `Name =` token pair immediately before the container keyword
# (zig_parser.zig:599-615); otherwise current_container is set to null.
# Because this store keys blocks by md5(codebase/file:name), fn-local
# const/var names (the same `const allocator = ...` in twenty fns of one
# file) are qualified by their enclosing function — the reference keeps
# bare names with a parent_container field and defers disambiguation to a
# higher level; the qualified spelling carries the same information in the
# id. One deliberate widening vs the reference: `extern fn` prototypes
# (fn_proto without a body) still emit function units — the reference's
# process_node only dispatches .fn_decl, but a proto is exactly the
# surface a caller greps for.

_Z_KEYWORDS = frozenset(
    "if while for switch return break continue defer errdefer catch orelse try "
    "and or fn struct enum union opaque unreachable test comptime inline "
    "suspend resume await async asm align callconv linksection addrspace "
    "pub export extern var const threadlocal noinline usingnamespace "
    "anyframe noalias packed volatile allowzero error".split()
)
_Z_MODIFIERS = frozenset(
    "pub export inline noinline threadlocal extern".split()
)
# tokens that can legally precede a declaration start (container member /
# statement position) — `*const u8` / `[]const u8` pointer modifiers must
# NOT parse as decls, and their `const` is preceded by '*' / ']'
_Z_DECL_PREV = frozenset({None, "{", "}", ";", ",", "(", ")"}) | _Z_MODIFIERS | {
    "comptime", "string"
}

_Z_TOKEN_RX = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>//[^\n]*)
  | (?P<mls>\\\\[^\n]*)                       # multiline string line
  | (?P<string>"(?:[^"\\\n]|\\.)*")
  | (?P<char>'(?:[^'\\\n]|\\.)*')
  | (?P<qident>@"(?:[^"\\\n]|\\.)*")          # @"quoted identifier"
  | (?P<builtin>@[A-Za-z_]\w*)
  | (?P<ident>[A-Za-z_]\w*)
  | (?P<num>[0-9](?:[0-9a-zA-Z_]|\.(?=[0-9a-fA-F]))*)
  | (?P<op>==|!=|<=|>=|\+=|-=|\*=|/=|%=|\|=|&=|\^=|<<=|>>=|\+\+|\*\*
          |\.\.\.|\.\.|\.\*|\.\?|=>|->|<<|>>|.)
    """,
    re.VERBOSE,
)


def _zig_tokens(source: str) -> list[tuple[str, str, int]]:
    """(kind, text, 1-based line) tokens; whitespace/comments/multiline-
    string lines dropped (their braces are data, not structure)."""
    toks = []
    line = 1
    for m in _Z_TOKEN_RX.finditer(source):
        kind = m.lastgroup
        text = m.group()
        if kind not in ("ws", "comment", "mls"):
            if kind == "qident":
                toks.append(("ident", text[2:].strip('"'), line))
            elif kind == "ident" and text in _Z_KEYWORDS:
                toks.append(("kw", text, line))
            else:
                toks.append((kind, text, line))
        line += text.count("\n")
    return toks


class _ZigParse:
    """Decl-level recursive descent over the token stream. Emits the same
    (rel_path, unit_type, qual, parent, line_start, line_end, content, err)
    unit tuples and (rel_path, src, dst, edge_type) edges as _parse_python.
    Never raises on malformed input — unmatched brackets clamp to EOF (the
    reference returns ParsingFailed and the file degrades; emitting what
    parsed is strictly more useful and the goldens pin graceful recovery)."""

    def __init__(self, rel_path: str, source: str):
        self.rel = rel_path
        self.lines = source.splitlines()
        self.toks = _zig_tokens(source)
        self.units: list = []
        self.edges: list = []
        # matching close index for every bracket-opening token (joint
        # stack over {, (, [ — exact because literals are single tokens)
        self.match: dict[int, int] = {}
        stack = []
        pairs = {"{": "}", "(": ")", "[": "]"}
        for i, (k, t, _) in enumerate(self.toks):
            if t in pairs and k == "op":
                stack.append((i, pairs[t]))
            elif k == "op" and stack and t == stack[-1][1]:
                self.match[stack.pop()[0]] = i

    # -- helpers ------------------------------------------------------------

    def _content(self, a_line: int, b_line: int) -> str:
        return "\n".join(self.lines[a_line - 1 : b_line])

    def _close(self, i: int) -> int:
        """Index of the bracket matching toks[i], or last token on error."""
        return self.match.get(i, len(self.toks) - 1)

    def _skip_to_semi(self, i: int, end: int) -> int:
        """First index > i of ';' at bracket depth 0 (brackets jumped via
        the match table); `end` (exclusive) on miss."""
        while i < end:
            k, t, _ = self.toks[i]
            if k == "op" and t in "{([":
                i = self._close(i) + 1
                continue
            if k == "op" and t == ";":
                return i
            i += 1
        return end

    # -- decl parsing --------------------------------------------------------

    def walk(self, i: int, end: int, container: str, fn_qual: str) -> None:
        """Scan [i, end): emit decls at this scope, recurse into container
        bodies / fn bodies / initializers, extract call edges inside fns."""
        toks = self.toks
        while i < end:
            k, t, ln = toks[i]
            if k == "kw":
                if t in ("const", "var") and self._is_decl_start(i):
                    i = self._var_decl(i, end, container, fn_qual)
                    continue
                if t == "fn" and i + 1 < end and toks[i + 1][0] == "ident":
                    i = self._fn_decl(i, end, container)
                    continue
                if t == "test" and fn_qual == "" and self._is_decl_start(i):
                    i = self._test_decl(i, end)
                    continue
                if t == "comptime" and i + 1 < end and toks[i + 1][1] == "{":
                    # comptime BLOCK: never walked by the reference
                    i = self._close(i + 1) + 1
                    continue
                if t in ("struct", "enum", "union", "opaque"):
                    # anonymous container in expression position: members
                    # walked with null container (zig_parser.zig:599-615)
                    j = i + 1
                    if j < end and toks[j][1] == "(":  # union(enum), enum(u8)
                        j = self._close(j) + 1
                    if j < end and toks[j][1] == "{":
                        self.walk(j + 1, self._close(j), "", "")
                        i = self._close(j) + 1
                        continue
            if (
                k == "ident"
                and fn_qual
                and i + 1 < end
                and toks[i + 1][1] == "("
                and toks[i + 1][0] == "op"
            ):
                prev = toks[i - 1] if i > 0 else (None, None, 0)
                if prev[1] == "." and prev[0] == "op":
                    if t not in _Z_KEYWORDS:
                        self.edges.append((self.rel, fn_qual, t, "calls_method"))
                elif t not in _Z_KEYWORDS and t != fn_qual.rsplit(".", 1)[-1]:
                    self.edges.append((self.rel, fn_qual, t, "calls"))
            i += 1

    def _is_decl_start(self, i: int) -> bool:
        if i == 0:
            return True
        pk, pt, _ = self.toks[i - 1]
        if pk == "string":  # extern "c" const/var/fn
            return i >= 2 and self.toks[i - 2][1] == "extern"
        return pt in _Z_DECL_PREV or (pk == "kw" and pt in _Z_MODIFIERS) or pt == "comptime"

    def _qual(self, name: str, container: str, fn_qual: str) -> tuple[str, str]:
        """(qual, parent) for a const/var decl."""
        if fn_qual:
            return f"{fn_qual}.{name}", fn_qual
        if container:
            return f"{container}.{name}", container
        return name, ""

    def _var_decl(self, i: int, end: int, container: str, fn_qual: str) -> int:
        toks = self.toks
        ut = toks[i][1]  # 'const' | 'var'
        ln = toks[i][2]
        if i + 1 >= end or toks[i + 1][0] != "ident":
            return i + 1
        name = toks[i + 1][1]
        # scan past the (possibly brace-carrying) type annotation to the
        # '=' or ';' that ends the decl head, at bracket depth 0
        j = i + 2
        eq = -1
        while j < end:
            k, t, _ = toks[j]
            if k == "op" and t in "{([":
                j = self._close(j) + 1
                continue
            if k == "op" and t == "=":
                eq = j
                break
            if k == "op" and t in (";", ","):
                break
            j += 1
        if eq < 0:
            # blockless decl (extern const/var, or a non-decl false hit)
            semi = self._skip_to_semi(i, end)
            end_ln = toks[min(semi, end - 1)][2]
            qual, parent = self._qual(name, container, fn_qual)
            self.units.append((self.rel, ut, qual, parent, ln, end_ln,
                               self._content(ln, end_ln), None))
            return semi + 1

        # classify the initializer
        j = eq + 1
        # @import?
        if j < end and toks[j][0] == "builtin" and toks[j][1] == "@import":
            target = ""
            if j + 1 < end and toks[j + 1][1] == "(":
                cl = self._close(j + 1)
                for x in range(j + 2, cl):
                    if toks[x][0] == "string":
                        target = toks[x][1].strip('"')
                        break
            semi = self._skip_to_semi(j, end)
            end_ln = toks[min(semi, end - 1)][2]
            qual = f"{container}.{name}" if container else name
            self.units.append((self.rel, "import", qual, container, ln, end_ln,
                               self._content(ln, end_ln), None))
            bare = os.path.basename(target)
            bare = bare[:-4] if bare.endswith(".zig") else bare
            self.edges.append((self.rel, qual, bare or name, "imports"))
            return semi + 1
        # container type? optional packed/extern prefix, then the keyword
        p = j
        while p < end and toks[p][1] in ("packed", "extern"):
            p += 1
        if p < end and toks[p][0] == "kw" and toks[p][1] in (
            "struct", "enum", "union", "opaque"
        ):
            q = p + 1
            if q < end and toks[q][1] == "(":  # enum(u8) / union(enum)
                q = self._close(q) + 1
            if q < end and toks[q][1] == "{":
                body_close = self._close(q)
                end_ln = toks[body_close][2]
                qual = (
                    f"{container}.{name}"
                    if container and container != name
                    else name
                )
                self.units.append((self.rel, "type", qual, container, ln,
                                   end_ln, self._content(ln, end_ln), None))
                # members walked with THIS container context; the function
                # context does not leak into the container body. The context
                # is the emitted QUAL, not the bare name (r9, found by the
                # differential fuzzer): walking with the short name made a
                # depth-2 container's members (`T.Loc.m`) qualify as `Loc.m`
                # while the container unit itself was `T.Loc` — a dangling
                # method_of target no lookup could resolve.
                self.walk(q + 1, body_close, qual, "")
                return self._skip_to_semi(body_close, end) + 1
            if q < end and toks[q][1] == ";" and toks[p][1] == "opaque":
                # `const H = opaque;`-style (rare): still a type decl
                end_ln = toks[q][2]
                qual = f"{container}.{name}" if container and container != name else name
                self.units.append((self.rel, "type", qual, container, ln,
                                   end_ln, self._content(ln, end_ln), None))
                return q + 1

        # plain const/var: emit, then walk the initializer (the reference's
        # var_decl arm walks init_node, so nested decls/calls inside blocks,
        # labeled blocks, or anonymous containers in the init still count)
        semi = self._skip_to_semi(eq, end)
        end_ln = toks[min(semi, end - 1)][2]
        qual, parent = self._qual(name, container, fn_qual)
        self.units.append((self.rel, ut, qual, parent, ln, end_ln,
                           self._content(ln, end_ln), None))
        self.walk(eq + 1, semi, container, fn_qual)
        return semi + 1

    def _fn_decl(self, i: int, end: int, container: str) -> int:
        toks = self.toks
        ln = toks[i][2]
        name = toks[i + 1][1]
        qual = f"{container}.{name}" if container else name
        # params
        j = i + 2
        if j < end and toks[j][1] == "(":
            j = self._close(j) + 1
        # return type up to body '{' or proto ';'
        body_open = -1
        while j < end:
            k, t, _ = toks[j]
            if k == "op" and t in "([":
                j = self._close(j) + 1
                continue
            if k == "op" and t == "{":
                body_open = j
                break
            if k == "op" and t == ";":
                break
            if k == "kw" and t in ("struct", "enum", "union", "opaque"):
                # container-typed return value: `fn f() struct { .. } {`
                q = j + 1
                if q < end and toks[q][1] == "(":
                    q = self._close(q) + 1
                if q < end and toks[q][1] == "{":
                    j = self._close(q) + 1
                    continue
            j += 1
        if body_open < 0:
            # prototype (extern fn ...;): emit the unit, nothing to walk
            end_ln = toks[min(j, end - 1)][2]
            self.units.append((self.rel, "function", qual, container, ln,
                               end_ln, self._content(ln, end_ln), None))
            if container:
                self.edges.append((self.rel, qual, container, "method_of"))
            return j + 1
        body_close = self._close(body_open)
        end_ln = toks[body_close][2]
        self.units.append((self.rel, "function", qual, container, ln, end_ln,
                           self._content(ln, end_ln), None))
        if container:
            self.edges.append((self.rel, qual, container, "method_of"))
        self.walk(body_open + 1, body_close, container, qual)
        return body_close + 1

    def _test_decl(self, i: int, end: int) -> int:
        toks = self.toks
        ln = toks[i][2]
        j = i + 1
        tname = ""
        if j < end and toks[j][0] == "string":
            tname = toks[j][1].strip('"')
            j += 1
        elif j < end and toks[j][0] == "ident":
            tname = toks[j][1]
            j += 1
        if j >= end or toks[j][1] != "{":
            return i + 1
        body_close = self._close(j)
        end_ln = toks[body_close][2]
        safe = re.sub(r"\W+", "_", tname).strip("_") or f"test_L{ln}"
        self.units.append((self.rel, "test", safe, "", ln, end_ln,
                           self._content(ln, end_ln), None))
        # test bodies are never walked (no .test_decl arm in walk_children)
        return body_close + 1


def _parse_zig(rel_path: str, source: str) -> tuple[list, list]:
    """One Zig file → (units, syntactic edges), same tuple shapes as
    ``_parse_python``."""
    if not source.splitlines():
        return [(rel_path, "document", os.path.basename(rel_path), "", 1, 1,
                 source, None)], []
    p = _ZigParse(rel_path, source)
    p.walk(0, len(p.toks), "", "")
    if not p.units:
        p.units.append((rel_path, "document", os.path.basename(rel_path), "",
                        1, max(1, len(p.lines)), source, None))
    return p.units, p.edges


def _local_targets(units: list) -> dict[str, str]:
    """Bare name -> the least qualified name defining it in the file: the
    file-local half of resolve_and_build, answered where the file is parsed."""
    out: dict[str, str] = {}
    for u in units:
        bare = u[2].rsplit(".", 1)[-1]
        if bare not in out or u[2] < out[bare]:
            out[bare] = u[2]
    return out


def _parse_source(rel_path: str, source: str) -> tuple[list, list]:
    """Extension-dispatched parser tier (S8): Python ast, Zig heuristic."""
    if rel_path.endswith(DEFAULT_EXTENSIONS):
        return _parse_python(rel_path, source)
    if rel_path.endswith(ZIG_EXTENSIONS):
        return _parse_zig(rel_path, source)
    return [(rel_path, "document", os.path.basename(rel_path), "", 1,
             max(1, source.count("\n") + 1), source, None)], []


#: one relation carrying BOTH parse products, tagged by ``kind`` ('u'/'e'):
#: the parser emits units and edges from the SAME ``_parse_source`` call, so
#: producing them as two separate mapInPandas passes read and parsed every
#: file twice (the r12 optimization round's ingestion finding — guide §1.2
#: "don't compute things you throw away": each pass discarded half its
#: parse). Unit fields are placeholder-'' / 0 on edge rows and vice versa;
#: the split projections below restore the exact historical schemas.
_COMBINED_SCHEMA = StructType(
    [StructField("kind", StringType())]
    + list(_UNIT_SCHEMA.fields)
    + [f for f in _EDGE_SCHEMA.fields if f.name != "file_path"]
)


def _paths(
    spark: SparkSession, files: list[tuple[str, str]] | DataFrame
) -> DataFrame:
    """DataFrame[abs_path, file_path] of a driver-side (abs_path, rel_path)
    list, sliced straight into one task per core (at most one per file) —
    no repartition shuffle — or a manifest DataFrame's two columns."""
    if isinstance(files, DataFrame):
        return files.select("abs_path", "file_path")
    sc = spark.sparkContext
    rdd = sc.parallelize(files, max(1, min(len(files), sc.defaultParallelism)))
    return spark.createDataFrame(rdd, "abs_path string, file_path string")


def parse_files(
    spark: SparkSession,
    files: list[tuple[str, str]] | DataFrame,
    max_file_size: int = MAX_FILE_SIZE,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Distributed parse: (units_df, raw_edges_df). Each partition parses its
    file subset inside one Python worker (Arrow-batched). ``files`` is a
    driver-side (abs_path, rel_path) list for directory ingest, or a
    DataFrame[abs_path, file_path] manifest for monorepo-scale ingest where
    the listing itself is a table.

    Both outputs are filtered projections of ONE combined parse relation
    (each ``_parse_source`` call yields units AND edges — the previous
    two-pass shape parsed every file twice). With ``materialize=True`` the
    combined relation is localCheckpoint-ed eagerly, so the whole parse
    runs exactly ONCE no matter how many actions consume units/edges —
    the link/sync ingestion paths use this; the default stays lazy for
    callers that only ever force one side.

    The size cap is enforced HERE, not only in list_files: the manifest path
    has no listing step, and resolve_and_build's 1M sequence stride relies
    on every file being <= MAX_FILE_SIZE (a multi-MiB file could exceed 1M
    units and collide sequence ranges). Oversize files become a single
    parse_error marker block."""

    paths_df = _paths(spark, files)

    def _read_capped(ap: str) -> tuple[str | None, str | None]:
        """(source, error) — error set for unreadable or oversize files."""
        try:
            if os.path.getsize(ap) > max_file_size:
                return None, f"file exceeds max_file_size ({max_file_size})"
            with open(ap, encoding="utf-8", errors="replace") as f:
                return f.read(), None
        except OSError as exc:
            return None, f"read error: {exc}"

    def combined_batch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _COMBINED_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for ap, rp in zip(pdf["abs_path"], pdf["file_path"]):
                src, err = _read_capped(ap)
                if err is not None:
                    rows.append(("u", rp, "document", os.path.basename(rp),
                                 "", 1, 1, "", err, "", "", "", None))
                    continue
                units, edges = _parse_source(rp, src)
                rows.extend(("u", *u, "", "", "", None) for u in units)
                if rp.endswith(CODE_EXTENSIONS):
                    local = _local_targets(units)
                    names = {u[2] for u in units}
                    # an edge leaves one of the file's own units, so its
                    # src is a block of the batch
                    rows.extend(
                        ("e", fp, "", "", "", 0, 0, "", None, s, d, et, local.get(d))
                        for fp, s, d, et in edges
                        if s in names
                    )
            yield pd.DataFrame(rows, columns=cols)

    combined = paths_df.mapInPandas(combined_batch, _COMBINED_SCHEMA)
    if materialize:
        combined = combined.localCheckpoint()
    units = combined.where(F.col("kind") == "u").select(
        *[f.name for f in _UNIT_SCHEMA.fields]
    )
    raw_edges = combined.where(F.col("kind") == "e").select(
        *[f.name for f in _EDGE_SCHEMA.fields]
    )
    return units, raw_edges


def file_hashes(
    spark: SparkSession, files: list[tuple[str, str]] | DataFrame
) -> DataFrame:
    """(file_path, content_hash) — md5 of raw bytes, computed on executors
    (the change-detection pass of incremental sync; reading beats parsing by
    an order of magnitude, and unchanged files are never parsed)."""
    import hashlib

    paths_df = _paths(spark, files)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ap, rp in zip(pdf["abs_path"], pdf["file_path"]):
                try:
                    with open(ap, "rb") as f:
                        rows.append((rp, hashlib.md5(f.read()).hexdigest()))
                except OSError:
                    rows.append((rp, None))
            yield pd.DataFrame(rows, columns=["file_path", "content_hash"])

    return paths_df.mapInPandas(
        hash_batch, "file_path string, content_hash string"
    )


def resolve_and_build(
    units: DataFrame,
    raw_edges: DataFrame,
    codebase: str,
    sequence_base: int = 0,
    file_index: DataFrame | None = None,
    extra_symbols: DataFrame | None = None,
    checkpoint: bool = False,
) -> tuple:
    """Semantic resolution + ContextBlock/GraphEdge materialization.

    Resolution (S9 semantics): an edge's raw target name resolves to
    (1) a unit in the same file whose bare name matches (the parse's
    ``dst_local``), else (2) the unique unit with that bare name anywhere
    in the codebase (one aggregation by bare name, one join). Unresolved
    edges are dropped (the reference drops edges whose endpoints don't
    exist, ``src/storage/engine.zig:1207-1217``). Edges are endpoint-valid
    by construction: ``src`` is a unit of the edge's own file and ``dst``
    the id of the symbol row resolved to; ``file_index`` must list every
    parsed file, so both are batch blocks or ``extra_symbols`` rows.

    Incremental re-ingest (a subset of the codebase's files): pass
    ``extra_symbols`` — DataFrame[bare, unit_id, id] of the *unchanged*
    files' visible blocks — so cross-file targets resolve codebase-wide.

    Edges carry provenance (codebase, src_file, ingest_seq=sequence_base):
    the storage layer's epoch rule uses it to shadow a re-ingested file's
    older edges (BlockStore.visible_edges).

    Sequence assignment: base + file_idx*1_000_000 + row_number within the
    file. The per-file window keeps sequence generation fully parallel (a
    single global row_number would funnel every row through one partition);
    MVCC only needs sequences to be unique within a batch and monotone
    *across* batches, which ``sequence_base`` provides. The stride cannot
    collide: a MAX_FILE_SIZE (1 MiB) file yields < 1M units (every unit
    spans at least one source line).

    ``checkpoint=True`` evaluates the block batch once, eagerly
    (localCheckpoint), and also returns what that evaluation observed:
    ``(blocks, edges, {"lo", "hi", "ids"})`` — the least and greatest
    sequence (None when empty) and the distinct block ids (a name defined
    twice in a file is one id in two rows).
    """
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    if file_index is None:
        paths = sorted(
            r["file_path"] for r in units.select("file_path").distinct().collect()
        )
        file_index = units.sparkSession.createDataFrame(
            list(enumerate(paths)), "file_idx long, file_path string"
        )
    indexed = units.join(F.broadcast(file_index), "file_path")

    def block_id(uid):
        return F.md5(F.concat(F.lit(codebase), F.lit("/"), uid))

    uid = F.concat(F.col("file_path"), F.lit(":"), F.col("name"))
    in_file = F.row_number().over(
        Window.partitionBy("file_path").orderBy("line_start", "name")
    )
    seq = F.lit(sequence_base) + F.col("file_idx") * 1_000_000 + in_file
    err_json = F.when(
        F.col("parse_error").isNotNull(),
        F.concat(
            F.lit(',"parse_error":"'),
            F.regexp_replace(F.col("parse_error"), '"', "'"),
            F.lit('"'),
        ),
    ).otherwise(F.lit(""))
    blocks = indexed.select(
        block_id(uid).alias("id"),
        seq.cast("bigint").alias("sequence"),
        F.concat(
            F.lit("file://"), F.col("file_path"), F.lit("#L"),
            F.col("line_start").cast("string"), F.lit("-"), F.col("line_end").cast("string"),
        ).alias("source_uri"),
        "unit_type",
        uid.alias("unit_id"),
        F.lit(codebase).alias("codebase"),
        "file_path",
        F.concat(
            F.lit('{"unit_type":"'), F.col("unit_type"),
            F.lit('","unit_id":"'), uid,
            F.lit('","codebase":"'), F.lit(codebase),
            F.lit('","file_path":"'), F.col("file_path"), F.lit('"'),
            err_json,
            F.lit("}"),
        ).alias("metadata_json"),
        "content",
    )
    if checkpoint:
        # an id repeats only within its file: the sequence window's
        # partitioning serves this window too (a sort, no exchange)
        first = F.row_number().over(
            Window.partitionBy("file_path", "unit_id").orderBy("sequence")
        ) == 1
        batch = Observation()
        blocks = blocks.withColumn("_first", first).observe(
            batch, F.min("sequence").alias("lo"), F.max("sequence").alias("hi"),
            F.count_if("_first").alias("ids"),
        ).drop("_first").localCheckpoint()

    # bare name -> the id of its unique defining unit (min == max); the
    # batch's rows are its blocks (unit_id is "<file_path>:<name>")
    name = F.expr("substring(unit_id, length(file_path) + 2)")
    syms = blocks.select(
        F.element_at(F.split(name, r"\."), -1).alias("bare"), "unit_id", "id"
    )
    if extra_symbols is not None:
        syms = syms.unionByName(extra_symbols.select("bare", "unit_id", "id"))
    # unique build-side names: blocks and raw_edges share one parse
    # lineage, where attribute-based conditions mis-resolve (r12)
    gu = (
        syms.groupBy("bare")
        .agg(F.min(F.struct("unit_id", "id")).alias("_lo"), F.max("unit_id").alias("_hi"))
        .where(F.col("_lo.unit_id") == F.col("_hi"))
        .select(F.col("bare").alias("_gu_bare"), F.col("_lo.id").alias("_gu_id"))
    )
    src = block_id(F.concat(F.col("file_path"), F.lit(":"), F.col("src_name")))
    dst = F.coalesce(
        block_id(F.concat(F.col("file_path"), F.lit(":"), F.col("dst_local"))),
        F.col("_gu_id"),
    )
    edges = (
        raw_edges.join(gu, F.col("dst_name") == F.col("_gu_bare"), "left")
        .select(
            src.alias("src"),
            dst.alias("dst"),
            "edge_type",
            F.lit(codebase).alias("codebase"),
            F.col("file_path").alias("src_file"),
            F.lit(sequence_base).cast("bigint").alias("ingest_seq"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    return (blocks, edges, batch.get) if checkpoint else (blocks, edges)


def ingest_manifest(
    spark: SparkSession, manifest: DataFrame, codebase: str,
    sequence_base: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Monorepo-scale ingest: the file listing is a DataFrame[abs_path,
    file_path] (e.g. a build-system manifest table), never a driver list.
    The per-file index for sequence assignment is a row_number over the
    one-row-per-file manifest ordered by path — a narrow single pass over
    file COUNT (not unit count), the only global ordering the pipeline
    needs; parsing and resolution stay fully distributed."""
    from pyspark.sql.window import Window

    file_index = manifest.select("file_path").distinct().select(
        "file_path",
        (F.row_number().over(Window.orderBy("file_path")) - 1)
        .cast("bigint")
        .alias("file_idx"),
    )
    units, raw_edges = parse_files(spark, manifest)
    return resolve_and_build(units, raw_edges, codebase, sequence_base, file_index)


def ingest_directory(
    spark: SparkSession, root: str, codebase: str, sequence_base: int = 0,
    config: IngestConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """S7 end-to-end: discover (git-aware, glob-configurable) → parse →
    resolve → (blocks, edges)."""
    files = list_files(root, config=config)
    units, raw_edges = parse_files(spark, files)
    file_index = spark.createDataFrame(
        [(i, rel) for i, (_, rel) in enumerate(files)], "file_idx long, file_path string"
    )
    return resolve_and_build(units, raw_edges, codebase, sequence_base, file_index)
