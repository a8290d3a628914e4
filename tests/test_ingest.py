"""Ingestion pipeline: parse a real source tree (this package), check units,
edges, resolution, and the flagship callers query over ingested data.
Mirrors the reference parser goldens + e2e query flow (FIXTURES.md §5)."""

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from kausaldb_spark.operators import traversal as tv
from kausaldb_spark.sources import ingest

REPO_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kausaldb_spark")


@pytest.fixture(scope="module")
def fixture_tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("src")
    (root / "app.py").write_text(textwrap.dedent('''
        import os
        from math import sqrt

        LIMIT = 10

        def helper(x):
            return sqrt(x)

        def main():
            helper(LIMIT)
            obj = Greeter()
            obj.greet()

        class Greeter:
            def greet(self):
                self.name()
            def name(self):
                return "g"

        def test_main():
            main()
    '''))
    (root / "broken.py").write_text("def oops(:\n  pass\n")
    (root / "README.md").write_text("docs here\n")
    return str(root)


def test_parse_units_and_edges(spark, fixture_tree):
    blocks, edges = ingest.ingest_directory(spark, fixture_tree, "fix")
    b = {r["unit_id"]: r for r in blocks.collect()}
    # units: functions, class, methods (qualified), const, imports, test, doc
    assert b["app.py:helper"]["unit_type"] == "function"
    assert b["app.py:Greeter"]["unit_type"] == "type"
    assert b["app.py:Greeter.greet"]["unit_type"] == "function"
    assert b["app.py:LIMIT"]["unit_type"] == "const"
    assert b["app.py:os"]["unit_type"] == "import"
    assert b["app.py:test_main"]["unit_type"] == "test"
    assert b["README.md:README.md"]["unit_type"] == "document"
    # broken file becomes an error-annotated document block, not a crash
    assert "syntax error" in b["broken.py:broken.py"]["metadata_json"] or \
        "syntax error" in str(blocks.where(F.col("file_path") == "broken.py").collect()[0].asDict())
    # sequences are unique and positive
    seqs = [r["sequence"] for r in b.values()]
    assert len(set(seqs)) == len(seqs) and min(seqs) > 0

    e = {(r["src"], r["dst"], r["edge_type"]) for r in edges.collect()}
    def bid(uid):
        return b["app.py:" + uid]["id"]
    assert (bid("main"), bid("helper"), "calls") in e
    assert (bid("main"), bid("LIMIT"), "calls") not in e  # LIMIT is not called
    assert (bid("Greeter.greet"), bid("Greeter"), "method_of") in e
    # calls_method greet resolved to the qualified method via global-unique name
    assert (bid("main"), bid("Greeter.greet"), "calls_method") in e
    assert (bid("Greeter.greet"), bid("Greeter.name"), "calls_method") in e
    # test block calls main
    assert (bid("test_main"), bid("main"), "calls") in e


def test_callers_on_ingested_tree(spark, fixture_tree):
    blocks, edges = ingest.ingest_directory(spark, fixture_tree, "fix")
    anchor = blocks.where(F.col("unit_id") == "app.py:helper").collect()[0]["id"]
    callers = tv.bfs(edges, [anchor], tv.INCOMING, tv.EdgeFilter.only("calls"), max_depth=1)
    names = {
        r["unit_id"]
        for r in callers.where(F.col("depth") == 1).join(blocks, "id").collect()
    }
    assert names == {"app.py:main"}


def test_reingest_mvcc(spark, fixture_tree):
    """Re-ingest with a higher sequence base: snapshot returns the new
    versions (last writer wins)."""
    from kausaldb_spark.snapshot import visible_blocks

    b1, _ = ingest.ingest_directory(spark, fixture_tree, "fix", sequence_base=0)
    b2, _ = ingest.ingest_directory(spark, fixture_tree, "fix", sequence_base=1_000_000)
    all_versions = b1.unionByName(b2)
    tomb = spark.range(0).select(
        F.lit("").alias("block_id"), F.lit(0).cast("bigint").alias("sequence"),
        F.lit(0).cast("bigint").alias("deletion_timestamp"),
    )
    vis = visible_blocks(all_versions, tomb)
    assert vis.count() == b1.count()
    assert vis.agg(F.min("sequence")).collect()[0][0] > 1_000_000


def test_ingest_own_package(spark):
    """Dogfood: ingest kausaldb_spark itself and sanity-check the call graph."""
    blocks, edges = ingest.ingest_directory(spark, REPO_PKG, "selfhost")
    assert blocks.where(F.col("unit_id").endswith(":bfs")).count() == 1
    anchor = blocks.where(F.col("unit_id").endswith(":orient")).collect()[0]["id"]
    callers = tv.bfs(edges, [anchor], tv.INCOMING, tv.EdgeFilter.only("calls"), max_depth=1)
    caller_names = {
        r["unit_id"].split(":")[-1]
        for r in callers.where(F.col("depth") == 1).join(blocks, "id").collect()
    }
    assert "bfs" in caller_names  # bfs() calls orient()


def test_zig_ingest_of_reference_query_dir(spark, tmp_path_factory):
    """The engine must ingest the reference's own Zig sources
    (zig_parser.zig taxonomy) and answer `show --relation callers` on a
    known function with non-empty results."""
    from kausaldb_spark.engine import KausalEngine

    store = str(tmp_path_factory.mktemp("store_zig"))
    eng = KausalEngine(spark, store)
    info = eng.link_codebase("/root/reference/src/query", "refquery")
    assert info["blocks"] > 100 and info["edges"] > 100

    vis = eng.store.visible()
    types = {r["unit_type"] for r in vis.select("unit_type").distinct().collect()}
    assert {"function", "type", "const", "import", "test"} <= types

    callers = eng.find_callers("refquery", "execute_traversal")
    names = {r["unit_id"].split(":")[-1] for r in callers.collect()}
    assert {"traverse_outgoing", "traverse_incoming"} <= names, names


ZIG_PROJ = {
    "a.zig": (
        'const std = @import("std");\n'
        'const helper = @import("b.zig");\n'
        "pub const Counter = struct {\n"
        "    count: u32,\n"
        "    pub fn increment(self: *Counter) void {\n"
        "        self.count += 1;\n"
        "        helper.log_event();\n"
        "    }\n"
        "};\n"
        "pub fn main() void {\n"
        "    var c = Counter{ .count = 0 };\n"
        "    c.increment();\n"
        "    bump_twice();\n"
        "}\n"
        "fn bump_twice() void {}\n"
        'test "counter increments" {\n'
        "    bump_twice();\n"
        "}\n"
    ),
    "b.zig": "pub fn log_event() void {}\n",
}


def test_zig_method_qualification_and_imports(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("zigproj")
    for name, body in ZIG_PROJ.items():
        (root / name).write_text(body)
    blocks, edges = ingest.ingest_directory(spark, str(root), "zp")
    units = {r["unit_id"]: r["unit_type"] for r in blocks.collect()}
    assert units["a.zig:Counter"] == "type"
    assert units["a.zig:Counter.increment"] == "function"
    assert units["a.zig:main"] == "function"
    assert units["a.zig:std"] == "import"
    assert units["b.zig:log_event"] == "function"
    assert units["a.zig:counter_increments"] == "test"
    # cross-file method call resolves via the global-unique symbol table
    mains = blocks.where(F.col("unit_id") == "a.zig:main").collect()[0]["id"]
    callees = tv.bfs(edges, [mains], tv.OUTGOING,
                     tv.EdgeFilter.include("calls", "calls_method"), max_depth=1)
    callee_names = {
        r["unit_id"].split(":")[-1]
        for r in callees.where(F.col("depth") == 1).join(blocks, "id").collect()
    }
    assert {"Counter.increment", "bump_twice"} <= callee_names, callee_names


# nested class, module-level calls, an unresolved name, imports of missing
# modules and a redefinition; `kept.py` is resolved first and then stands
# for the unchanged files of an incremental re-ingest
PY_PROJ = {
    "kept.py": textwrap.dedent('''
        class Base:
            pass

        def shared():
            return helper()
    '''),
    "outer.py": textwrap.dedent('''
        import os
        import missing_module
        from absent import thing

        class Outer(Base):
            class Inner:
                def m(self):
                    return helper() + undefined_name() + shared()
            def run(self):
                self.m()
                return Outer.Inner()

        def helper():
            return os.path.join("a")

        def helper():
            return shared() + shared()

        helper()
        print(helper())
    '''),
}


def _semi_joined_edges(units, raw_edges, codebase, base, extra, ids):
    """Resolution with an endpoint check after it: per-file and global
    symbol aggregates, two left joins, then both ends semi-joined against
    ``ids`` (the batch's block ids and the kept ones)."""
    bare = F.element_at(F.split(F.col("name"), r"\."), -1)
    uid = F.concat(F.col("file_path"), F.lit(":"), F.col("name"))
    batch_syms = units.select("file_path", bare.alias("bare"), uid.alias("unit_id"))
    syms = batch_syms.unionByName(extra.select("file_path", "bare", "unit_id"))
    pf = batch_syms.groupBy("file_path", "bare").agg(F.min("unit_id").alias("uid_file"))
    gu = (
        syms.groupBy("bare")
        .agg(F.min("unit_id").alias("uid_global"), F.max("unit_id").alias("_hi"))
        .where(F.col("uid_global") == F.col("_hi"))
    )
    pf = pf.select(F.col("file_path").alias("_fp"), F.col("bare").alias("_b1"), "uid_file")
    gu = gu.select(F.col("bare").alias("_b2"), "uid_global")
    e = (
        raw_edges.join(pf, (F.col("file_path") == F.col("_fp")) & (F.col("dst_name") == F.col("_b1")), "left")
        .join(gu, F.col("dst_name") == F.col("_b2"), "left")
        .withColumn("dst_uid", F.coalesce("uid_file", "uid_global"))
        .where(F.col("dst_uid").isNotNull())
    )
    md5 = lambda c: F.md5(F.concat(F.lit(codebase + "/"), c))  # noqa: E731
    e = e.select(
        md5(F.concat(F.col("file_path"), F.lit(":"), F.col("src_name"))).alias("src"),
        md5(F.col("dst_uid")).alias("dst"),
        "edge_type",
        F.col("file_path").alias("src_file"),
    ).where(F.col("src") != F.col("dst"))
    return e.join(ids, e.src == ids.id, "left_semi").join(ids, e.dst == ids.id, "left_semi")


@pytest.mark.parametrize("tree,kept", [(PY_PROJ, "kept.py"), (ZIG_PROJ, "b.zig")])
def test_resolved_edges_are_endpoint_valid_by_construction(spark, tmp_path_factory, tree, kept):
    """Every edge resolve_and_build returns leaves a block of its batch and
    lands on a block of the batch or on a supplied kept block, with no
    endpoint check after resolution; the edges are exactly those such a
    check would have kept. The eagerly checkpointed batch reports its
    sequence range and its distinct block ids (a redefinition is one id in
    two rows)."""
    root = tmp_path_factory.mktemp("endpoints")
    for name, body in tree.items():
        (root / name).write_text(body)

    def parse(rel):
        return ingest.parse_files(spark, [(str(root / rel), rel)], materialize=True)

    kept_blocks, _ = ingest.resolve_and_build(*parse(kept), "cb", 0)
    extra = kept_blocks.select(
        "file_path",
        F.element_at(F.split(F.element_at(F.split("unit_id", ":"), -1), r"\."), -1).alias("bare"),
        "unit_id", "id",
    )
    batch_files = sorted(set(tree) - {kept})
    units, raw_edges = ingest.parse_files(
        spark, [(str(root / rel), rel) for rel in batch_files], materialize=True
    )
    file_index = spark.createDataFrame(list(enumerate(batch_files)), "file_idx long, file_path string")
    blocks, edges, batch = ingest.resolve_and_build(
        units, raw_edges, "cb", 5_000_000, file_index,
        extra_symbols=extra, checkpoint=True,
    )

    batch_ids = {r["id"] for r in blocks.collect()}
    kept_ids = {r["id"] for r in extra.collect()}
    got = sorted(tuple(r) for r in edges.select("src", "dst", "edge_type", "src_file").collect())
    assert got, "the trees have resolvable references"
    assert all(src in batch_ids for src, *_ in got)
    assert all(dst in batch_ids | kept_ids for _, dst, *_ in got)
    assert any(dst in kept_ids for _, dst, *_ in got), "a reference into a kept file"

    ids = blocks.select("id").unionByName(extra.select("id"))
    want = sorted(
        tuple(r) for r in _semi_joined_edges(units, raw_edges, "cb", 5_000_000, extra, ids).collect()
    )
    assert got == want

    seqs = [r["sequence"] for r in blocks.collect()]
    assert batch == {"lo": min(seqs), "hi": max(seqs), "ids": len(batch_ids)}


def test_discovery_exclude_patterns(spark, tmp_path_factory):
    """File-discovery parity (ingest_directory.zig:37-173): an excluded
    directory yields no blocks."""
    root = tmp_path_factory.mktemp("exclproj")
    (root / "app.py").write_text("def real():\n    return 1\n")
    (root / "vendor").mkdir()
    (root / "vendor" / "dep.py").write_text("def vendored():\n    return 2\n")
    cfg = ingest.IngestConfig(exclude=("vendor/*",))
    blocks, _ = ingest.ingest_directory(spark, str(root), "ex", config=cfg)
    paths = {r["file_path"] for r in blocks.select("file_path").distinct().collect()}
    assert paths == {"app.py"}
    # include patterns narrow further
    cfg2 = ingest.IngestConfig(include=("vendor/*",))
    blocks2, _ = ingest.ingest_directory(spark, str(root), "ex2", config=cfg2)
    paths2 = {r["file_path"] for r in blocks2.select("file_path").distinct().collect()}
    assert paths2 == {"vendor/dep.py"}


def test_discovery_git_ls_files(tmp_path_factory):
    """In a git work tree, discovery honors .gitignore (tracked +
    untracked-unignored, like the reference's exclude config)."""
    import subprocess

    root = str(tmp_path_factory.mktemp("gitproj"))
    subprocess.run(["git", "init", "-q", root], check=True)
    with open(os.path.join(root, "kept.py"), "w") as f:
        f.write("def kept():\n    return 1\n")
    os.makedirs(os.path.join(root, "build"))
    with open(os.path.join(root, "build", "gen.py"), "w") as f:
        f.write("def generated():\n    return 2\n")
    with open(os.path.join(root, ".gitignore"), "w") as f:
        f.write("build/\n")
    files = ingest.list_files(root)
    rels = [rel for _, rel in files]
    assert "kept.py" in rels and "build/gen.py" not in rels
    # prefer_git=False falls back to the plain walk (sees everything)
    files2 = ingest.list_files(root, config=ingest.IngestConfig(prefer_git=False))
    rels2 = [rel for _, rel in files2]
    assert "build/gen.py" in rels2


def test_ingest_manifest_matches_directory(spark, fixture_tree):
    """Manifest-table ingest (listing as a DataFrame, no driver file list)
    must produce the identical block/edge sets as directory ingest."""
    files = ingest.list_files(fixture_tree)
    b1, e1 = ingest.ingest_directory(spark, fixture_tree, "fix")
    manifest = spark.createDataFrame(files, "abs_path string, file_path string")
    b2, e2 = ingest.ingest_manifest(spark, manifest, "fix")
    cols = ["id", "sequence", "unit_id", "content"]
    s1 = {tuple(r) for r in b1.select(cols).collect()}
    s2 = {tuple(r) for r in b2.select(cols).collect()}
    assert s1 == s2
    assert {tuple(r) for r in e1.collect()} == {tuple(r) for r in e2.collect()}


def test_zig_golden_cases_from_reference():
    """Parity with the reference parser's own golden tests
    (src/ingestion/parsers/zig_parser.zig:683-975): unit taxonomy and edges
    for each fixture, including nested/local containers inside function
    bodies ("parse nested function", "parse local const struct
    declaration"), which the r4 parser skipped."""
    from kausaldb_spark.sources.ingest import _parse_zig

    def parse(src):
        units, edges = _parse_zig("t.zig", src)
        return (
            {(u[2]): u[1] for u in units},  # name -> unit_type
            {(e[1], e[2], e[3]) for e in edges},  # (src, dst, type)
        )

    # "parse top-level function"
    names, _ = parse("pub fn main() void {\n    return;\n}\n")
    assert names == {"main": "function"}

    # "parse method inside struct": Config type + both methods, method_of edge
    names, edges = parse(
        "pub const Config = struct {\n"
        "    timeout: u32,\n\n"
        "    pub fn init() Config {\n"
        "        return .{ .timeout = 100 };\n"
        "    }\n\n"
        "    pub fn validate(self: *const Config) bool {\n"
        "        return self.timeout > 0;\n"
        "    }\n"
        "};\n"
    )
    assert names["Config"] == "type"
    assert names["Config.init"] == "function"
    assert names["Config.validate"] == "function"
    assert ("Config.init", "Config", "method_of") in edges

    # "parse nested function": outer + Inner + method ALL present
    names, _ = parse(
        "fn outer() void {\n"
        "    const Inner = struct {\n"
        "        fn method() void {}\n"
        "    };\n"
        "    Inner.method();\n"
        "}\n"
    )
    assert names["outer"] == "function"
    assert names["Inner"] == "type"
    assert "Inner.method" in names

    # "extract function call edges"
    _, edges = parse("fn caller() void {\n    callee();\n}\n\nfn callee() void {}\n")
    assert ("caller", "callee", "calls") in edges

    # "extract method call edges"
    _, edges = parse(
        "pub const Foo = struct {\n"
        "    pub fn bar(self: *Foo) void {\n"
        "        self.baz();\n"
        "    }\n\n"
        "    fn baz(self: *Foo) void {}\n"
        "};\n"
    )
    assert ("Foo.bar", "baz", "calls_method") in edges

    # "extract @import"
    names, edges = parse(
        'const std = @import("std");\nconst types = @import("../core/types.zig");\n'
    )
    assert names["std"] == "import" and names["types"] == "import"
    assert ("std", "std", "imports") in edges
    assert ("types", "types", "imports") in edges

    # "parse variable declarations"
    names, _ = parse("pub const VERSION: u32 = 1;\nvar global_counter: usize = 0;\n")
    assert names["VERSION"] == "const" and names["global_counter"] == "var"

    # "parse enum and union"
    names, _ = parse(
        "pub const Color = enum {\n    red,\n    green,\n    blue,\n};\n\n"
        "pub const Value = union(enum) {\n    int: i32,\n    float: f64,\n};\n"
    )
    assert names["Color"] == "type" and names["Value"] == "type"

    # "parse local const struct declaration"
    names, _ = parse(
        "fn my_func() void {\n"
        "    const LocalStruct = struct {\n"
        "        value: i32,\n"
        "    };\n"
        "    _ = LocalStruct{ .value = 1 };\n"
        "}\n"
    )
    assert names["my_func"] == "function"
    assert names["LocalStruct"] == "type"

    # "handle syntax errors gracefully" — no exception, something emitted
    units, _ = _parse_zig("t.zig", "pub fn broken( void {")
    assert units


def test_zig_fn_local_const_var_units():
    """r6: the reference's process_var_decl creates units "regardless of
    scope" (zig_parser.zig:497-498) — fn-body const/var decls must emit,
    qualified by the enclosing fn (store ids are per-file-name unique)."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        "pub const Engine = struct {\n"
        "    pub fn run(self: *Engine) void {\n"
        "        const budget = 100;\n"
        "        var spent: usize = 0;\n"
        "        _ = budget; _ = spent;\n"
        "    }\n"
        "};\n"
        "fn helper() void {\n"
        "    const budget = 5;\n"
        "    _ = budget;\n"
        "}\n"
    )
    units, _ = _parse_zig("t.zig", src)
    names = {u[2]: (u[1], u[3]) for u in units}
    # two same-named locals in different fns stay distinct
    assert names["Engine.run.budget"] == ("const", "Engine.run")
    assert names["Engine.run.spent"] == ("var", "Engine.run")
    assert names["helper.budget"] == ("const", "helper")


def test_zig_test_bodies_produce_no_units():
    """The reference's walk_children has no .test_decl arm — test bodies
    are never walked, so their locals (consts, types, imports) produce no
    units; the test decl itself still does."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        'test "engine smoke" {\n'
        "    const fixture = 1;\n"
        "    const Local = struct { x: i32 };\n"
        '    const extra = @import("std");\n'
        "    _ = fixture; _ = Local; _ = extra;\n"
        "}\n"
        "pub const KEEP: u32 = 2;\n"
    )
    units, _ = _parse_zig("t.zig", src)
    by_type = {(u[1], u[2]) for u in units}
    assert ("test", "engine_smoke") in by_type
    assert ("const", "KEEP") in by_type
    assert not any("fixture" in n or "Local" in n or "extra" in n for _, n in by_type)


def test_zig_multiline_continuation_decls():
    """Declarations whose struct{/@import( opener sits on a continuation
    line parse as type/import, not plain const (r6 verdict item 3)."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        "pub const Matrix =\n"
        "    struct {\n"
        "        data: [4]f32,\n"
        "        pub fn det(self: *const Matrix) f32 { return self.data[0]; }\n"
        "    };\n"
        "const std =\n"
        '    @import("std");\n'
        "pub const LIMIT: usize =\n"
        "    4096;\n"
    )
    units, edges = _parse_zig("t.zig", src)
    names = {u[2]: u[1] for u in units}
    assert names["Matrix"] == "type"
    assert names["Matrix.det"] == "function"  # container registry saw Matrix
    assert names["std"] == "import"
    assert ("std", "std", "imports") in {(e[1], e[2], e[3]) for e in edges}
    assert names["LIMIT"] == "const"


def test_zig_selfhost_reference_src(spark):
    """Ingest the reference's whole src/ tree (read-only input data) and
    spot-check per-file unit extraction: every .zig file yields units, no
    file falls back to a whole-file 'document' blob, and known files carry
    their known decls. This is the r6 'real Zig codebase' fidelity gate."""
    import glob as _glob

    from kausaldb_spark.sources.ingest import _parse_zig

    files = sorted(_glob.glob("/root/reference/src/**/*.zig", recursive=True))
    assert len(files) > 50
    per_file = {}
    for p in files:
        with open(p, encoding="utf-8", errors="replace") as f:
            src = f.read()
        rel = p.removeprefix("/root/reference/src/")
        units, edges = _parse_zig(rel, src)
        per_file[rel] = units
        # no parse bail-outs: a non-empty .zig source never degrades to the
        # single whole-file document fallback
        if src.strip():
            assert not (len(units) == 1 and units[0][1] == "document"), rel

    zp = per_file["ingestion/parsers/zig_parser.zig"]
    zp_names = {u[2]: u[1] for u in zp}
    assert zp_names.get("Walker") == "type"
    assert any(n.startswith("Walker.walk") for n in zp_names)
    assert zp_names.get("std") == "import"
    # fn-local consts from the real tree are present and fn-qualified
    assert any("." in n and t == "const" for n, t in zp_names.items()), "no locals"
    # unit volume sanity: the walker file is ~1000 lines of dense decls
    assert len(zp) > 40, len(zp)


def test_zig_comptime_blocks_are_not_walked():
    """The reference's walk_children has no .@"comptime" arm
    (zig_parser.zig:138-316), so `comptime { ... }` block contents are
    never walked — at file scope, container scope, or inside fns, nested
    or not. A `comptime var x` DECL (no block) is still a var_decl and
    emits. The r6 line heuristic leaked comptime-block locals."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        "comptime {\n"
        "    const hidden_file = 1;\n"
        "    comptime {\n"
        "        const hidden_nested = 2;\n"
        "        _ = hidden_nested;\n"
        "    }\n"
        "    _ = hidden_file;\n"
        "}\n"
        "pub const KEEP: u32 = 3;\n"
        "fn f() void {\n"
        "    comptime {\n"
        "        const hidden_fn = 4;\n"
        "        _ = hidden_fn;\n"
        "    }\n"
        "    comptime var counter: usize = 0;\n"
        "    const seen = 5;\n"
        "    _ = seen; _ = counter;\n"
        "}\n"
    )
    units, _ = _parse_zig("t.zig", src)
    names = {u[2]: u[1] for u in units}
    assert "KEEP" in names and names["f"] == "function"
    assert names["f.seen"] == "const"
    assert names["f.counter"] == "var"  # comptime DECL, not block
    assert not any("hidden" in n for n in names), names


def test_zig_anonymous_container_in_expression():
    """An anonymous container in expression position (`List(struct {...})`)
    has its members walked with a NULL container: the reference's
    process_container_decl only recovers a name from a literal `Name =`
    immediately before the container keyword (zig_parser.zig:599-615) —
    a call-argument container has `(` there, so current_container is null
    and member fns get unqualified ids with no method_of edge."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        "const T = List(struct {\n"
        "    pub fn inner_method(self: @This()) void { self.go(); }\n"
        "});\n"
    )
    units, edges = _parse_zig("t.zig", src)
    names = {u[2]: (u[1], u[3]) for u in units}
    assert names["T"] == ("const", "")          # init is a call, not a container
    assert names["inner_method"] == ("function", "")  # null container
    assert not any(e[3] == "method_of" for e in edges)
    assert ("inner_method", "go", "calls_method") in {(e[1], e[2], e[3]) for e in edges}
    # type-factory return position: the decl-walk reaches it and the
    # members are likewise null-container (a deliberate widening vs the
    # reference, whose walk_children has no .return arm — emitting the
    # factory's surface is strictly more useful for callers/search)
    src2 = (
        "pub fn Factory(comptime n: usize) type {\n"
        "    return struct {\n"
        "        pub fn get() usize { return n; }\n"
        "    };\n"
        "}\n"
    )
    units2, _ = _parse_zig("t.zig", src2)
    names2 = {u[2]: u[1] for u in units2}
    assert names2["Factory"] == "function"
    assert names2["get"] == "function"


def test_zig_braces_inside_literals_never_confuse_structure():
    """Multiline strings (\\\\ lines), quoted strings with escapes, char
    literals, and comments can all contain braces/semicolons/'//' — the
    tokenizer must treat them as data. The r6 stripper handled the common
    cases; the token pass makes exotic ones exact."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        "const sql =\n"
        "    \\\\SELECT '{' FROM t { } } {\n"
        "    \\\\WHERE x = \"}\"; // not a comment\n"
        ";\n"
        'const tricky = "brace { quote \\" semi ; slash //";\n'
        "const ch = '{';\n"
        "// comment with } } } unbalanced\n"
        "fn after() void {\n"
        "    helper();\n"
        "}\n"
    )
    units, edges = _parse_zig("t.zig", src)
    names = {u[2]: u[1] for u in units}
    assert names["sql"] == "const"
    assert names["tricky"] == "const"
    assert names["ch"] == "const"
    assert names["after"] == "function"
    assert ("after", "helper", "calls") in {(e[1], e[2], e[3]) for e in edges}
    # line extents stay sane: `after` starts after the literals
    after = [u for u in units if u[2] == "after"][0]
    assert after[4] > 6


def test_zig_labeled_block_initializer_decls_emit():
    """The reference's var_decl arm walks the initializer, and block
    statements are walked — so a labeled-block init's locals emit."""
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        "const v = blk: {\n"
        "    const inner = compute();\n"
        "    break :blk inner;\n"
        "};\n"
    )
    units, _ = _parse_zig("t.zig", src)
    names = {u[2]: u[1] for u in units}
    assert names["v"] == "const"
    assert names["inner"] == "const"


def test_zig_chained_import_and_official_walker_deviations():
    """r10 golden for the pinned S8 deviations (see the fuzz module
    docstring for the full rationale, citations into
    /root/reference/src/ingestion/parsers/zig_parser.zig):

    - `const X = @import("m").Field` — the official walker only
      special-cases a DIRECT builtin_call init (zig_parser.zig:447-462)
      and emits a plain const for the chain; this repo keeps the import
      unit + (X, m, imports) edge (deliberate superset: the module
      dependency is real).
    - `usingnamespace @import(...)` — invisible on both (official
      walker: empty else arms for the tag).
    - `const E = error{..}` — plain const on both (is_node_a_container
      excludes error sets, zig_parser.zig:527+).
    - `errdefer f();` — edge kept here; the official walk_children never
      visits defer/errdefer operands (superset, same as plain defer).
    """
    from kausaldb_spark.sources.ingest import _parse_zig

    src = (
        'const AL = @import("std").ArrayList;\n'
        'pub usingnamespace @import("mixin.zig");\n'
        "const E = error{ NotFound };\n"
        "fn risky() void {\n"
        "    errdefer undo();\n"
        "}\n"
    )
    units, edges = _parse_zig("t.zig", src)
    names = {u[2]: u[1] for u in units}
    assert names == {"AL": "import", "E": "const", "risky": "function"}
    edge_set = {(e[1], e[2], e[3]) for e in edges}
    assert edge_set == {("AL", "std", "imports"), ("risky", "undo", "calls")}
