"""The two workloads. Each has ``setup`` (not timed) and ``step`` (one edit
cycle or one curation pass); ``run.py`` drives them. Every step has one
write (a sync, a curation) and one round of reads after it (daemon
requests, shard verifications), timed as a whole.

Every operation goes through a public entry point: daemon requests through
``KausalClient`` -> ``KausalServer`` -> ``cli.main``; link and sync through
``KausalEngine``; curation through ``curate_and_write`` and
``verify_shards``. Every answer is checked, and a wrong one is a failure.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import median

import gen_corpus
import oracle as orc
from gen_tree import N_MARKERS, Tree, marker

CODEBASE = "bench"
TRACE_DEPTH = 4
# After every sync the daemon answers one round of requests. First the
# post-edit checks: `show callers` and `find` on every edited name, `show
# callees` on the added and the changed function. Then one request of each
# read op the post-edit checks do not send, on Zipf-skewed targets drawn by
# the seed, so that every op of the per-layer metrics (find, show, trace,
# search, filter) is in the round. No source of real request proportions is
# at hand, so each is sent once and weighs in the round by its own latency.
KINDS = ("trace", "search", "filter")
# the warm-up sends one request of every kind the round sends
WARM_UP_KINDS = ("find", "callers", "callees") + KINDS
ZIPF_S = 1.1
VERIFY_REPEATS = 9
# curate's warm-up corpus: every funnel stage drops rows, at about a ninth of the size
WARM_UP_CORPUS = {"n_base": 80, "n_lowq": 5, "n_exact": 5, "n_near": 5, "n_overlap": 5}


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def timing_line(key: str, xs: list[float]) -> list[str]:
    """One table line of milliseconds: median, sample count, and the highest
    of p99, p95, p90 and p75 that has at least ten samples beyond it."""
    if not xs:
        return []
    text = f"{key:28s} p50 {median(xs):10.1f} ms  n={len(xs)}"
    for p in (99.0, 95.0, 90.0, 75.0):
        if len(xs) * (1 - p / 100.0) >= 10:
            text += f"  p{p:.0f} {percentile(xs, p):.1f} ms"
            break
    return [text]


def store_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a store directory."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


class Sample:
    """One timed operation: its kind, latency and whether it was right."""

    __slots__ = ("kind", "ms", "ok")

    def __init__(self, kind: str, ms: float, ok: bool):
        self.kind, self.ms, self.ok = kind, ms, ok


class Step:
    """One step: its write, then the round of reads after it."""

    __slots__ = ("write", "reads")

    def __init__(self, write: Sample, reads: list[Sample]):
        self.write, self.reads = write, reads

    @property
    def samples(self) -> list[Sample]:
        return [self.write] + self.reads

    @property
    def read_ms(self) -> float:
        """The round's time: its requests one after another, as one client
        waiting for each reply sees them."""
        return sum(s.ms for s in self.reads)


class Daemon:
    """A linked store served in-process: engine, daemon thread, one client."""

    def __init__(self, spark, workdir: str, tracer):
        from kausaldb_spark.engine import KausalEngine
        from kausaldb_spark.server import KausalServer

        self.store = os.path.join(workdir, "store")
        self.engine = KausalEngine(spark, self.store)
        self.server = KausalServer(self.engine, self.store)
        self.thread = None
        self.client = None
        self.tracer = tracer

    def start(self) -> None:
        from kausaldb_spark.server import KausalClient

        self.thread = self.server.serve_background()
        host, port = self.server.server_address[:2]
        self.client = KausalClient(host, port)

    def request(self, op: str, argv: list[str]) -> tuple[dict, float]:
        """One round trip; returns (response, milliseconds)."""
        with self.tracer.root("server", "request", op=op):
            t0 = time.perf_counter()
            resp = self.client.request(argv)
            ms = (time.perf_counter() - t0) * 1000.0
        return resp, ms

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.thread is not None:
            self.server.shutdown()
            self.thread.join(timeout=30)
        self.server.server_close()


def read_argv(kind: str, args: tuple) -> tuple[str, list[str]]:
    """(op, CLI argv) of one read request."""
    ws = ["--workspace", CODEBASE]
    if kind == "find":
        name, utype = args
        return "find", ["--format", "json", "find", *ws, "--type", utype, "--name", name]
    if kind == "show":
        rel, name = args
        return "show", ["--format", "json", "show", *ws, "--relation", rel, "--target", name]
    if kind == "trace":
        a, b, d = args
        return "trace", ["--format", "json", "trace", *ws, "--from", a, "--to", b,
                         "--depth", str(d)]
    if kind == "search":
        return "search", ["--format", "json", "search", "--query", args[0]]
    return "filter", ["--format", "json", "filter", "--where", "metadata.unit_type:eq:function",
                      "--where", f"content:contains:{args[0]}", "--limit", "1000"]


class Workload:
    """What ``run.py`` needs of a workload besides ``setup``, ``step``,
    ``overhead_probe`` and ``table`` (its own figures for the readable
    table)."""

    WRITE = ""  # sample kind of the step's write
    # Steps whose timings are reported: the seed's first ones, however fast
    # the program is, so every run of a seed times the same operations.
    STEPS = 1

    def __init__(self, spark, workdir: str, seed: int, tracer):
        self.spark, self.workdir, self.seed, self.tracer = spark, workdir, seed, tracer
        self.untimed: list[Sample] = []  # checked, not timed

    def layer_extra(self) -> dict:
        """Inputs of per-layer metrics that spans cannot see."""
        return {}

    def close(self) -> None:
        pass


class EditSync(Workload):
    """A linked tree served by the daemon; seeded edits, each followed by a
    sync and a round of checked requests against the post-edit graph."""

    WRITE = "sync"

    def __init__(self, spark, workdir: str, seed: int, tracer):
        super().__init__(spark, workdir, seed, tracer)
        self.rng = random.Random(seed * 7919 + 1)
        self.root = os.path.join(workdir, "tree")
        self.tree = Tree(seed)
        self.daemon = Daemon(spark, workdir, tracer)
        self.link_s = 0.0
        self.files_changed = 0
        self.bytes_written: list[int] = []

    def setup(self) -> None:
        """Link the tree and start the daemon; a traced run traces the link."""
        self.tree_bytes = self.tree.write(self.root)
        self.tracer.enabled = self.tracer.installed
        with self.tracer.root("bench", "link"):
            t0 = time.perf_counter()
            self.daemon.engine.link_codebase(self.root, CODEBASE)
            self.link_s = time.perf_counter() - t0
        self.tracer.enabled = False
        self.tracer.harvest()
        self.daemon.start()
        # warm-up, untimed: one checked request of every kind on the linked
        # tree, so that the timed round meets a JVM that has planned and
        # compiled each request once, as a resident daemon's has
        self.oracle = orc.Oracle(self.tree, CODEBASE)
        self._targets()
        self.untimed += [self.read(*self._request(k)) for k in WARM_UP_KINDS]

    def read(self, kind: str, args: tuple) -> Sample:
        op, argv = read_argv(kind, args)
        resp, ms = self.daemon.request(op, argv)
        return Sample(op, ms, bool(orc.check(kind, args, resp, self.oracle)))

    def step(self) -> Step:
        edit = self.tree.edit()
        self.tree_bytes = self.tree.write(self.root)
        before, _ = store_stats(self.daemon.store)
        with self.tracer.root("bench", "sync"):
            t0 = time.perf_counter()
            with self.daemon.server.cmd_lock:  # the daemon's single-writer lock
                stats = self.daemon.engine.sync_codebase(CODEBASE)
            ms = (time.perf_counter() - t0) * 1000.0
        self.bytes_written.append(store_stats(self.daemon.store)[0] - before)
        self.files_changed += stats.get("files_changed", 0) + stats.get("files_removed", 0)
        self.oracle = orc.Oracle(self.tree, CODEBASE)  # sync must equal a fresh link
        self._targets()
        sent = [req for n in edit["names"] + edit["deleted"]
                for req in (("show", ("callers", n)), ("find", (n, "function")))]
        # a new or changed body shows only in its callees
        sent += [("show", ("callees", n)) for n in edit["names"]]
        reads = [self.read(*req) for req in sent + [self._request(k) for k in KINDS]]
        return Step(Sample("sync", ms, True), reads)

    # -- request targets -------------------------------------------------------

    def _targets(self) -> None:
        """Zipf-ranked targets over the current tree, in a seeded order."""
        units = self.oracle.units
        self.targets = [(u["qual"], u["type"]) for u in units if u["type"] in ("function", "type")]
        self.rng.shuffle(self.targets)
        self.funcs = [t for t in self.targets if t[1] == "function"]

    def _pick(self, funcs_only: bool = False) -> tuple[str, str]:
        pool = self.funcs if funcs_only else self.targets
        return self.rng.choices(pool, [1.0 / (r + 1) ** ZIPF_S for r in range(len(pool))])[0]

    def _request(self, kind: str) -> tuple[str, tuple]:
        if kind == "find":
            return "find", self._pick()
        if kind in ("callers", "callees"):
            return "show", (kind, self._pick(kind == "callees")[0])
        if kind == "trace":
            a = self._pick(True)[0]
            reach = self.oracle.reachable(a, TRACE_DEPTH)
            b = self.rng.choice(reach) if reach and self.rng.random() < 0.8 else self._pick(True)[0]
            return "trace", (a, b, TRACE_DEPTH)
        if kind == "search":
            return "search", (" ".join(self._marked()),)
        return "filter", (marker(self.rng.randrange(N_MARKERS)),)

    def _marked(self) -> tuple[str, ...]:
        qual = self._pick(True)[0]
        return next(u["markers"] for u in self.oracle.units if u["qual"] == qual)

    # -- reporting -------------------------------------------------------------

    def overhead_probe(self, tracer, n: int = 3) -> float:
        """Tracing overhead in percent: the same uncached filter request,
        alternately untraced and traced, ratio of the two medians."""
        times: dict[bool, list[float]] = {False: [], True: []}
        for i in range(2 * n):
            tracer.enabled = i % 2 == 1
            self.untimed.append(s := self.read("filter", (marker(0),)))
            times[tracer.enabled].append(s.ms)
            tracer.enabled = False
        tracer.harvest()
        return 100.0 * (median(times[True]) / median(times[False]) - 1.0)

    def table(self, samples: list[Sample]) -> list[str]:
        lines = [f"{'link_s':28s} {self.link_s:10.2f} s"]
        for kind in ("find", "show", "trace", "search", "filter"):
            lines += timing_line(kind, [s.ms for s in samples if s.kind == kind])
        stats = self.daemon.engine.stats
        hit = stats.cache_hits / max(1, stats.cache_hits + stats.cache_misses)
        ratio = store_stats(self.daemon.store)[0] / self.tree_bytes
        return lines + [f"{'engine_cache_hit_ratio':28s} {hit:10.2f}",
                        f"{'store_bytes_per_user_byte':28s} {ratio:10.2f}"]

    def layer_extra(self) -> dict:
        return {"parquet_files": store_stats(self.daemon.store)[1],
                "files_changed": self.files_changed,
                "bytes_written_per_sync": median(self.bytes_written)}

    def close(self) -> None:
        self.daemon.close()


class Curate(Workload):
    """Training-data pipeline: raw corpus -> curate_and_write (the write),
    then verify_shards (the reads), VERIFY_REPEATS times, so that the round
    is long enough to time steadily."""

    WRITE = "curate"

    def __init__(self, spark, workdir: str, seed: int, tracer):
        super().__init__(spark, workdir, seed, tracer)
        self.inp = os.path.join(workdir, "corpus.parquet")
        self.warm_inp = os.path.join(workdir, "warm-up.parquet")
        self.passes = 0

    def setup(self) -> None:
        """Warm up, then write the corpus. The warm-up is one checked,
        untimed pass over a small corpus of another seed, so that the timed
        pass meets a JVM that has planned and compiled the pipeline once."""
        rows, expect = gen_corpus.make_corpus(self.seed + 100_000, **WARM_UP_CORPUS)
        gen_corpus.write_parquet(rows, self.warm_inp)
        self.untimed += self.step(expect, self.warm_inp, verify_repeats=1).samples
        rows, self.expect = gen_corpus.make_corpus(self.seed)
        gen_corpus.write_parquet(rows, self.inp)
        self.docs_in = len(rows)

    def step(self, expect: dict | None = None, inp: str | None = None,
             verify_repeats: int = VERIFY_REPEATS) -> Step:
        from kausaldb_spark import sinks
        from kausaldb_spark.functions import curation

        expect = expect or self.expect
        out = os.path.join(self.workdir, f"shards{self.passes}")
        self.passes += 1
        with self.tracer.root("bench", "curate"):
            t0 = time.perf_counter()
            manifest = curation.curate_and_write(self.spark, inp or self.inp, out,
                                                 n_shards=8, seed=self.seed)
            ms = (time.perf_counter() - t0) * 1000.0
        kept = {r[0] for r in self.spark.read.parquet(out).select("doc_id").collect()}
        ok = (manifest["funnel"] == expect["funnel"] and kept == expect["kept_ids"]
              and min(kept, default=0) >= gen_corpus.BENCHMARK_DOCS)
        reads = []
        for _ in range(verify_repeats):
            with self.tracer.root("bench", "verify"):
                t0 = time.perf_counter()
                verified = sinks.verify_shards(self.spark, out)
                reads.append(Sample("verify", (time.perf_counter() - t0) * 1000.0, verified))
        shutil.rmtree(out, ignore_errors=True)
        return Step(Sample("curate", ms, ok), reads)

    def overhead_probe(self, tracer) -> float:
        """Tracing overhead in percent: one more warm pass untraced against
        one traced, compared on the curation."""
        plain = self.step()
        tracer.enabled = True
        traced = self.step()
        tracer.enabled = False
        tracer.harvest()
        self.untimed += plain.samples + traced.samples
        return 100.0 * (traced.write.ms / plain.write.ms - 1.0)

    def table(self, samples: list[Sample]) -> list[str]:
        writes = [s.ms for s in samples if s.kind == "curate"]
        docs = self.docs_in * len(writes) / (sum(writes) / 1000.0)
        return [f"{'curate_docs_per_s':28s} {docs:10.1f} docs/s  (docs in {self.docs_in})"]


WORKLOADS = {"edit_sync": EditSync, "curate": Curate}
