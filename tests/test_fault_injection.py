"""Crash-window fault injection for the multi-table commit sequences in
link/sync (r5 verdict §Next-round #4).

The reference proves crash-safety with a deterministic simulation VFS that
injects failures at every I/O point (``src/sim/simulation_vfs.zig``,
scenarios ``src/tests/scenarios/vfs_fault.zig``, ``docs/DESIGN.md:50-57``).
This store's equivalent risk surface is the ORDER of parquet appends inside
one logical commit. Link and sync share one commit path (engine.py
sync_codebase) and so one order:

    tombstone_where → append_blocks → append_edges → record_ref_names →
    record_file_state → save_registry

(a fresh link has no stored file to shadow, so it writes no tombstones)

Each test kills the flow immediately AFTER one append completes (the crash
window between appends), reopens the store with a fresh engine (process
restart), and asserts the recovery invariants:

- **no half-visible graph**: every visible edge endpoint is a visible block,
  at every crash point, before any repair;
- **no sequence reuse**: the HWM side-file is never stale-low (reserve-then-
  write), and no (block id, sequence) pair is ever duplicated;
- **retry converges**: re-running the same link/sync yields exactly the
  visible blocks+edges of a never-crashed control store, and a further sync
  is a no-op.
"""

import hashlib
import os
import shutil
import textwrap

import pytest
from pyspark.sql import functions as F

from kausaldb_spark.engine import KausalEngine

# r13: heavy gauntlet — opt-in via `-m scale` (see pytest.ini); the
# default driver verify run keeps the unit + oracle-parity suites
pytestmark = pytest.mark.scale

TREE_V1 = {
    "lib.py": '''
def helper_function(x):
    return x + 1

def main():
    return helper_function(41)
''',
    "util.py": '''
def shared_name():
    return 1
''',
    "gone.py": '''
def doomed():
    return 0
''',
}

# sync delta: lib.py edited, gone.py removed, extra.py added; util.py
# unchanged but references nothing affected
TREE_V2 = {
    "lib.py": '''
def helper_function(x):
    return x + 2

def main():
    return helper_function(42)

def newcomer():
    return main()
''',
    "util.py": TREE_V1["util.py"],
    "extra.py": '''
def fresh():
    return 7
''',
}

LINK_POINTS = [
    "append_blocks", "append_edges", "record_ref_names",
    "record_file_state", "save_registry",
]
SYNC_POINTS = ["tombstone_where"] + LINK_POINTS


class _Injected(RuntimeError):
    pass


def _write_tree(root: str, tree: dict[str, str]) -> None:
    os.makedirs(root, exist_ok=True)
    for name in os.listdir(root):
        os.remove(os.path.join(root, name))
    for rel, src in tree.items():
        with open(os.path.join(root, rel), "w", encoding="utf-8") as f:
            f.write(textwrap.dedent(src))


def _arm(engine: KausalEngine, point: str) -> None:
    """Make the named write die immediately AFTER it completes — the
    crash window between this append and the next one."""
    if point == "save_registry":
        orig = engine._save_registry

        def boom(reg):
            orig(reg)
            raise _Injected(point)

        engine._save_registry = boom
        return
    store = engine.store
    orig = getattr(store, point)

    def boom(*a, **kw):
        out = orig(*a, **kw)
        raise _Injected(point)

    setattr(store, point, boom)


def _visible_state(engine: KausalEngine, codebase: str):
    """Comparable snapshot: visible (unit_id, unit_type, content-md5) and
    visible edges as (src unit_id, dst unit_id, edge_type)."""
    vis = engine.store.visible(codebase)
    blocks = {
        (r["unit_id"], r["unit_type"],
         hashlib.md5(r["content"].encode()).hexdigest())
        for r in vis.select("unit_id", "unit_type", "content").collect()
    }
    ids = vis.select("id", "unit_id")
    e = engine.store.visible_edges()
    edges = {
        (r["su"], r["du"], r["edge_type"])
        for r in e.join(ids.withColumnRenamed("unit_id", "su"), e.src == ids.id)
        .select("su", "dst", "edge_type")
        .join(
            ids.withColumnRenamed("unit_id", "du").withColumnRenamed("id", "id2"),
            F.col("dst") == F.col("id2"),
        )
        .select("su", "du", "edge_type")
        .collect()
    }
    return blocks, edges


def _assert_invariants(engine: KausalEngine, codebase: str) -> None:
    """Mid-crash invariants that must hold at EVERY window, pre-repair."""
    store = engine.store
    # every visible edge endpoint resolves to a visible block
    ids = store.visible().select("id")
    e = store.visible_edges()
    dangling = (
        e.join(ids, e.src == ids.id, "left_anti").count()
        + e.join(ids, e.dst == ids.id, "left_anti").count()
    )
    assert dangling == 0, f"{dangling} dangling edge endpoints"
    # HWM is never stale-low (reserve-then-write) → no sequence reuse
    raw_hi = store.blocks_raw().agg(F.max("sequence")).collect()[0][0] or 0
    assert store.max_sequence() >= raw_hi
    # no (id, sequence) duplicate — MVCC order stays unambiguous
    dup = (
        store.blocks_raw().groupBy("id", "sequence").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0


@pytest.fixture(scope="module")
def control(spark, tmp_path_factory):
    """Never-crashed control: link v1 → snapshot; sync to v2 → snapshot."""
    root = str(tmp_path_factory.mktemp("ctrl_tree"))
    store = str(tmp_path_factory.mktemp("ctrl_store"))
    _write_tree(root, TREE_V1)
    eng = KausalEngine(spark, store)
    eng.link_codebase(root, "cb")
    after_link = _visible_state(eng, "cb")
    _write_tree(root, TREE_V2)
    eng.sync_codebase("cb")
    after_sync = _visible_state(eng, "cb")
    return after_link, after_sync


@pytest.mark.parametrize("point", LINK_POINTS)
def test_link_crash_window(spark, tmp_path_factory, control, point):
    root = str(tmp_path_factory.mktemp(f"lnk_tree_{point}"))
    store = str(tmp_path_factory.mktemp(f"lnk_store_{point}"))
    _write_tree(root, TREE_V1)
    eng = KausalEngine(spark, store)
    _arm(eng, point)
    with pytest.raises(_Injected):
        eng.link_codebase(root, "cb")

    # process restart: fresh engine over the same store path
    eng2 = KausalEngine(spark, store)
    _assert_invariants(eng2, "cb")

    # retry the same command; state must converge to the control
    eng2.link_codebase(root, "cb")
    _assert_invariants(eng2, "cb")
    assert _visible_state(eng2, "cb") == control[0]
    # and a follow-up sync sees nothing to do
    stats = eng2.sync_codebase("cb")
    assert stats["files_changed"] == 0 and stats["files_removed"] == 0


@pytest.mark.parametrize("point", SYNC_POINTS)
def test_sync_crash_window(spark, tmp_path_factory, control, point):
    root = str(tmp_path_factory.mktemp(f"snc_tree_{point}"))
    store = str(tmp_path_factory.mktemp(f"snc_store_{point}"))
    _write_tree(root, TREE_V1)
    eng = KausalEngine(spark, store)
    eng.link_codebase(root, "cb")
    _write_tree(root, TREE_V2)

    _arm(eng, point)
    with pytest.raises(_Injected):
        eng.sync_codebase("cb")

    eng2 = KausalEngine(spark, store)
    _assert_invariants(eng2, "cb")

    # retry converges (crash-before-file_state leaves hashes stale, so the
    # retry re-parses; crash-after leaves a fully-committed sync and the
    # retry is a no-op — both must land on the control state)
    eng2.sync_codebase("cb")
    _assert_invariants(eng2, "cb")
    assert _visible_state(eng2, "cb") == control[1]
    stats = eng2.sync_codebase("cb")
    assert stats["files_changed"] == 0 and stats["files_removed"] == 0


def test_link_crash_after_file_state_leaves_every_file_indexed(
    spark, tmp_path_factory, control
):
    """record_file_state is the commit's last table write before the
    registry, and ref_names lands before it: a link killed right after it
    leaves every current file with its name=NULL sentinel in the inverted
    index, so the next sync keeps the index lookup (no hole for it to fall
    back over) and converges to the control. The token-scan fallback for
    a store without the index is covered by
    test_sync_registry.test_legacy_store_falls_back_to_content_scan."""
    root = str(tmp_path_factory.mktemp("ref_tree"))
    store = str(tmp_path_factory.mktemp("ref_store"))
    _write_tree(root, TREE_V1)
    eng = KausalEngine(spark, store)
    _arm(eng, "record_file_state")  # dies before save_registry runs
    with pytest.raises(_Injected):
        eng.link_codebase(root, "cb")

    eng2 = KausalEngine(spark, store)
    n_files = (
        eng2.store.current_file_state()
        .where(F.col("content_hash").isNotNull()).count()
    )
    n_covered = (
        eng2.store.current_ref_names().where(F.col("name").isNull()).count()
    )
    assert n_covered == n_files == len(TREE_V1)

    _write_tree(root, TREE_V2)
    # the crash also preceded save_registry, so the sync names the root
    # explicitly (the CLI `sync --path` form)
    eng2.sync_codebase("cb", root=root)
    assert _visible_state(eng2, "cb") == control[1]


# ---------------------------------------------------------------------------
# concurrent writers (r6 verdict §Next-round #5): two engines, one store
# ---------------------------------------------------------------------------


def _mk_blocks(spark, tag: str, n: int, codebase: str):
    rows = [
        (
            hashlib.md5(f"{tag}-{i}".encode()).hexdigest(),
            i + 1,
            f"file://{tag}/{i}",
            "const",
            f"{tag}.unit{i}",
            codebase,
            f"{tag}/f{i}.py",
            "{}",
            f"content {tag} {i}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string,"
        " metadata_json string, content string",
    )


def test_concurrent_writers_no_sequence_reuse_no_lost_append(spark, tmp_path):
    """Two BlockStore handles (separate engines in one JVM — the same
    interleaving a second driver process produces on a shared store path)
    append batches concurrently. The writer lease serializes
    reserve-then-write, so: all rows from both writers land, no
    (id, sequence) duplication, the claimed sequence RANGES are disjoint,
    and the HWM side-file ends at the true max."""
    import threading

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "shared_store")
    a = BlockStore(spark, path)
    b = BlockStore(spark, path)
    n_batches, batch = 4, 25
    errs = []

    def writer(store, tag):
        try:
            for i in range(n_batches):
                store.append_blocks(_mk_blocks(spark, f"{tag}{i}", batch, tag))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(a, "wa"))
    t2 = threading.Thread(target=writer, args=(b, "wb"))
    t1.start(); t2.start(); t1.join(300); t2.join(300)
    assert not errs, errs

    raw = a.blocks_raw().collect()
    total = 2 * n_batches * batch
    assert len(raw) == total, f"lost append: {len(raw)} != {total}"
    # no (id, sequence) duplication, and in fact no sequence duplication at
    # all: every batch claimed a disjoint contiguous range
    seqs = sorted(r["sequence"] for r in raw)
    assert len(set(seqs)) == total, "sequence reuse across writers"
    assert seqs == list(range(1, total + 1)), "ranges not contiguous/disjoint"
    assert len({(r["id"], r["sequence"]) for r in raw}) == total
    # HWM never stale-low
    assert a.max_sequence() >= max(seqs)
    # lease released: a third writer proceeds immediately
    c = BlockStore(spark, path, lease_timeout=2.0)
    c.append_blocks(_mk_blocks(spark, "wc", 1, "wc"))
    assert c.max_sequence() == total + 1


def test_lease_steal_after_crashed_holder(spark, tmp_path):
    """A holder that 'crashes' (acquires and never releases) blocks writers
    only until its TTL; then the lease is stolen and the write proceeds.
    A live holder with remaining TTL makes a short-timeout writer raise
    LeaseHeldError instead of corrupting the sequence ledger."""
    import json as _json

    from kausaldb_spark.storage import BlockStore, LeaseHeldError

    path = str(tmp_path / "crashed_store")
    victim = BlockStore(spark, path)
    victim.append_blocks(_mk_blocks(spark, "v", 3, "v"))

    # simulate the crash: a lease file from a dead writer, 1s of TTL left
    os.makedirs(path, exist_ok=True)
    lease = os.path.join(path, "_writer.lease")
    with open(lease, "w") as fh:
        _json.dump({"owner": "dead-host:999:deadbeef", "expires": __import__("time").time() + 1.0}, fh)

    # impatient writer: timeout shorter than the remaining TTL -> refused
    hasty = BlockStore(spark, path, lease_timeout=0.2)
    with pytest.raises(LeaseHeldError):
        with hasty._writer_lease():
            pass

    # patient writer: waits past the TTL, steals, appends
    patient = BlockStore(spark, path, lease_timeout=10.0)
    patient.append_blocks(_mk_blocks(spark, "p", 2, "p"))
    assert patient.max_sequence() == 5
    assert not os.path.exists(lease), "lease not released after steal+write"
    # torn lease file (crash mid-create) is treated as expired immediately
    with open(lease, "w") as fh:
        fh.write("{not json")
    patient.append_blocks(_mk_blocks(spark, "q", 1, "q"))
    assert patient.max_sequence() == 6


def test_lease_renewal_extends_expiry_mid_operation(spark, tmp_path):
    """ADVICE r7: a long Spark job inside the leased section must not let
    the lease lapse. _lease_renew (called after the reserve step and before
    long writes) pushes the expiry out by the active TTL; a renewal while
    NOT the owner (already stolen) leaves the stealer's lease untouched."""
    import json as _json
    import time as _time

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "renew_store")
    store = BlockStore(spark, path, lease_ttl=5.0)
    lease = os.path.join(path, "_writer.lease")
    with store._writer_lease():
        with open(lease) as fh:
            before = _json.load(fh)["expires"]
        _time.sleep(0.05)
        store._lease_renew()
        with open(lease) as fh:
            after = _json.load(fh)
        assert after["owner"] == store._lease_owner
        assert after["expires"] > before, "renewal did not extend expiry"

        # simulate a steal mid-op: renewal must NOT clobber the new owner
        stolen = {"owner": "thief:1:cafecafe", "expires": _time.time() + 99}
        with open(lease, "w") as fh:
            _json.dump(stolen, fh)
        store._lease_renew()
        with open(lease) as fh:
            assert _json.load(fh)["owner"] == "thief:1:cafecafe"
    # release must also have left the thief's lease in place (atomic claim
    # path: rename, inspect, restore-not-ours via link)
    with open(lease) as fh:
        assert _json.load(fh)["owner"] == "thief:1:cafecafe"
    # default TTL is sized to worst-case Spark job length (compact-sized)
    assert BlockStore(spark, str(tmp_path / "d"))._lease_ttl == 600.0


def test_lease_release_is_atomic_claim_never_deletes_stealer(spark, tmp_path):
    """The r7 release was read-then-unlink: a stealer that recreated the
    lease between the overrun holder's owner check and its os.unlink lost
    its fresh lease. The release path now atomically CLAIMS the file by
    rename before inspecting, so a stealer's lease is either left alone or
    restored — never silently deleted."""
    import json as _json
    import time as _time

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "claim_store")
    store = BlockStore(spark, path, lease_ttl=5.0)
    lease = os.path.join(path, "_writer.lease")
    with store._writer_lease():
        # steal happens mid-op (holder overran): replace with thief's lease
        with open(lease, "w") as fh:
            _json.dump({"owner": "thief:2:beefbeef", "expires": _time.time() + 99}, fh)
    assert os.path.exists(lease), "stealer's lease was deleted by release"
    with open(lease) as fh:
        assert _json.load(fh)["owner"] == "thief:2:beefbeef"
    # and no stray transition files left behind (the persistent .lock
    # mutex sidecar is part of the protocol)
    strays = [
        f for f in os.listdir(path)
        if f.startswith("_writer.lease.") and f != "_writer.lease.lock"
    ]
    assert strays == [], strays


def test_lease_renew_with_absent_lease_does_not_resurrect(spark, tmp_path):
    """When the lease file is ABSENT at renewal time (we were stolen and
    the stealer already finished), the renewal must NOT recreate a lease —
    a displaced holder silently re-asserting ownership would reintroduce
    the dual-writer state the lease exists to prevent. And a renewal after
    a mid-op steal must leave the thief's lease exactly in place (the
    flock-serialized transition makes owner-check + rewrite atomic)."""
    import json as _json
    import time as _time

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "renew_absent")
    store = BlockStore(spark, path, lease_ttl=5.0)
    lease = os.path.join(path, "_writer.lease")
    with store._writer_lease():
        os.unlink(lease)  # stolen-and-released while we were working
        store._lease_renew()
        assert not os.path.exists(lease), "renewal resurrected a lost lease"
        # steal lands: renewal claims, sees the thief's inode, restores it
        with open(lease, "w") as fh:
            _json.dump({"owner": "thief:3:feedface", "expires": _time.time() + 99}, fh)
        store._lease_renew()
        with open(lease) as fh:
            assert _json.load(fh)["owner"] == "thief:3:feedface"
    # no stray transition files from any path (.lock sidecar excepted)
    strays = [
        f for f in os.listdir(path)
        if f.startswith("_writer.lease.") and f != "_writer.lease.lock"
    ]
    assert strays == [], strays


def test_compact_renews_lease_and_never_loses_concurrent_appends(spark, tmp_path):
    """r8 verdict item 5: compact runs several table rewrites under one
    lease; without renewal at phase boundaries a compact whose TOTAL
    duration exceeds the TTL reopens the steal window. Here every read
    phase is slowed so the compact takes well past its (shrunk) TTL while
    a second writer hammers append with a short acquisition timeout. If
    renewal lapsed, the attacker would steal mid-compact and its append
    would be erased by the pointer flip (it wrote into the superseded
    root) — detected below as a lost row or a reused sequence."""
    import threading
    import time as _time

    from kausaldb_spark.storage import BlockStore, LeaseHeldError

    path = str(tmp_path / "compact_renew")
    store = BlockStore(spark, path, lease_ttl=8.0)
    store.append_blocks(_mk_blocks(spark, "base", 40, "cb"))
    doomed = [r["id"] for r in store.visible().limit(5).collect()]
    store.delete_blocks(doomed)  # give compact real shadowing work

    for name in ("visible", "visible_edges", "current_file_state"):
        orig = getattr(store, name)

        def slow(orig=orig, **kw):
            _time.sleep(2.0)
            return orig(**kw)

        setattr(store, name, slow)
    renews = [0]
    orig_renew = store._lease_renew

    def counting_renew():
        renews[0] += 1
        orig_renew()

    store._lease_renew = counting_renew

    attacker = BlockStore(spark, path, lease_timeout=0.1, lease_ttl=8.0)
    landed, refused, errs = [], [0], []
    stop = threading.Event()

    def attack():
        i = 0
        while not stop.is_set():
            try:
                attacker.append_blocks(_mk_blocks(spark, f"att{i}", 1, "cb"))
                landed.append(i)
                i += 1
            except LeaseHeldError:
                refused[0] += 1
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)
                return
            _time.sleep(0.2)

    t = threading.Thread(target=attack)
    t.start()
    _time.sleep(0.3)
    store.compact()
    _time.sleep(2.0)  # let at least one post-compact append land
    stop.set()
    t.join(180)
    assert not errs, errs
    assert renews[0] >= 3, f"compact renewed only {renews[0]}x"
    assert refused[0] > 0, "lease was never contested mid-compact"

    check = BlockStore(spark, path)  # fresh handle, un-monkeypatched
    vis = check.visible().collect()
    assert len(vis) == 35 + len(landed), (
        f"lost append: {len(vis)} visible != 35 base + {len(landed)} landed"
    )
    seqs = [r["sequence"] for r in check.blocks_raw().collect()]
    assert len(seqs) == len(set(seqs)), "sequence reuse across compact"
    assert check.tombstones().count() == 0 or len(landed) == 0


def test_reader_polling_visible_across_compacts_sees_no_errors(spark, tmp_path):
    """r8 verdict item 7: the versioned-root pointer flip must give readers
    snapshot isolation across compaction. A reader thread polls
    visible().count() continuously while the writer runs TWO back-to-back
    compacts (flat->v1, then v1->v2, which GCs the flat legacy tables) —
    zero reader errors, every observed count equals the visible set. Also
    pins the layout lifecycle: the flat tables survive the first compact
    as the grace copy and are GC'd by the second; exactly the last two
    version roots remain."""
    import threading

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "reader_iso")
    writer = BlockStore(spark, path)
    writer.append_blocks(_mk_blocks(spark, "live", 60, "cb"))
    doomed = [r["id"] for r in writer.visible().limit(10).collect()]
    writer.delete_blocks(doomed)

    reader = BlockStore(spark, path)
    counts, errs = [], []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                counts.append(reader.visible().count())
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)
                return

    t = threading.Thread(target=poll)
    t.start()
    try:
        writer.compact()
        assert os.path.isdir(os.path.join(path, "blocks")), (
            "flat legacy tables GC'd too early — in-flight readers need them"
        )
        writer.compact()
    finally:
        stop.set()
        t.join(180)
    assert not errs, f"reader hit errors across compact: {errs[:3]}"
    assert counts and all(c == 50 for c in counts), (
        f"reader saw wrong visible set: {sorted(set(counts))}"
    )
    # layout lifecycle: flat tables gone, exactly two version roots kept
    assert not os.path.isdir(os.path.join(path, "blocks"))
    roots = sorted(d for d in os.listdir(path) if d.startswith("v-"))
    assert len(roots) == 2, roots
    # the pointer names one of them and the store reads through it
    import json as _json

    with open(os.path.join(path, "_current.json")) as fh:
        assert _json.load(fh)["version"] in roots
    assert BlockStore(spark, path).visible().count() == 50


def test_pinned_root_makes_multi_table_reads_atomic(spark, tmp_path):
    """Deterministic pin for the torn-read race the polling-reader test hit
    stochastically: a compact pointer flip landing BETWEEN a snapshot's
    blocks read and its tombstones read mixed roots (pre-compact blocks
    joined against the new root's empty tombstone table resurrected the
    deleted rows — visible()==60 instead of 50). Under _pin_root the whole
    composition must resolve the root it started on, which the grace-copy
    GC keeps alive for a full compact cycle."""
    from kausaldb_spark.snapshot import visible_blocks
    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "pin_root")
    writer = BlockStore(spark, path)
    writer.append_blocks(_mk_blocks(spark, "pin", 60, "cb"))
    writer.compact()  # move to the versioned-root layout: root v1, blocks=60
    doomed = [r["id"] for r in writer.visible().limit(10).collect()]
    writer.delete_blocks(doomed)  # 10 tombstones appended under v1

    reader = BlockStore(spark, path)
    with reader._pin_root():
        raw = reader.blocks_raw()  # listed under v1 (60 rows)
        writer.compact()  # flips the pointer to v2 (blocks=50, tombs empty)
        # the worst-case interleaving: tombstones read AFTER the flip must
        # still come from v1, or the 10 deletes vanish from this snapshot
        assert visible_blocks(raw, reader.tombstones()).count() == 50
    # unpinned, a fresh composition reads v2 and agrees
    assert reader.visible().count() == 50


def test_lease_garbage_expires_field_is_stealable_not_wedging(spark, tmp_path):
    """JSON-VALID lease with a non-numeric/null expires (foreign tool, a
    writer that died mid-value) must degrade to the TTL-steal path — the
    old float() conversion raised for every contender forever, wedging
    the store with no steal possible."""
    import json as _json

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "garbage_lease_store")
    store = BlockStore(spark, path)
    store.append_blocks(_mk_blocks(spark, "g", 2, "g"))

    lease = os.path.join(path, "_writer.lease")
    for bad in ("bad", None, [1, 2], {"nested": True}):
        with open(lease, "w") as fh:
            _json.dump({"owner": "foreign:1:cafe", "expires": bad}, fh)
        store.append_blocks(_mk_blocks(spark, f"x{bad}", 1, "g"))
    assert store.max_sequence() == 6


def test_lease_non_dict_json_is_stealable(spark, tmp_path):
    """Valid-JSON-but-not-an-object lease files ('[1]', '"x"', '5') must
    read as torn (stealable), not AttributeError in every contender."""
    import json as _json

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "nondict_lease_store")
    store = BlockStore(spark, path)
    store.append_blocks(_mk_blocks(spark, "n", 1, "n"))
    lease = os.path.join(path, "_writer.lease")
    for raw in ("[1]", '"x"', "5", "null"):
        with open(lease, "w") as fh:
            fh.write(raw)
        store.append_blocks(_mk_blocks(spark, f"n{raw}", 1, "n"))
    assert store.max_sequence() == 5


def test_second_thread_blocks_on_the_lease_not_reenters(spark, tmp_path):
    """The depth counter alone let a second THREAD treat the first thread's
    lease as its own re-entry (and the first thread's exit then released
    the lease mid-write). The RLock serializes threads of one instance."""
    import threading as _th
    import time as _t

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "thread_lease_store")
    store = BlockStore(spark, path)
    store.append_blocks(_mk_blocks(spark, "t", 1, "t"))

    events = []
    entered = _th.Event()
    release = _th.Event()

    def holder():
        with store._writer_lease():
            events.append(("A-in", _t.monotonic()))
            entered.set()
            release.wait(10)
            events.append(("A-out", _t.monotonic()))

    def contender():
        entered.wait(10)
        with store._writer_lease():
            events.append(("B-in", _t.monotonic()))

    a = _th.Thread(target=holder)
    b = _th.Thread(target=contender)
    a.start(); b.start()
    entered.wait(10)
    _t.sleep(0.5)          # B must be blocked, not "re-entered"
    assert [e for e, _ in events] == ["A-in"]
    release.set()
    a.join(10); b.join(10)
    order = [e for e, _ in events]
    assert order == ["A-in", "A-out", "B-in"], order


def test_nested_lease_widens_active_ttl(spark, tmp_path):
    """compact() nested inside an engine-held short-ttl lease must widen
    the active TTL so its phase renewals extend the LONG window."""
    from kausaldb_spark.storage import BlockStore

    store = BlockStore(spark, str(tmp_path / "ttl_widen_store"))
    with store._writer_lease(ttl=1.0):
        assert store._lease_ttl_active == 1.0
        with store._writer_lease(ttl=600.0):
            assert store._lease_ttl_active == 600.0
            cur = store._lease_read()
            import time as _t
            assert store._lease_expires(cur) - _t.time() > 100


def test_unleased_max_sequence_read_does_not_write_the_mark(spark, tmp_path):
    """A reader repairing the high-water side-file WITHOUT the lease could
    clobber a concurrent writer's freshly-reserved mark with a stale-low
    scan. Unleased reads return the scanned value but never persist it."""
    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "hwm_repair_store")
    store = BlockStore(spark, path)
    store.append_blocks(_mk_blocks(spark, "h", 3, "h"))
    hwm = os.path.join(path, "_max_seq.json")
    os.unlink(hwm)
    assert store.max_sequence() == 3       # unleased: scan only
    assert not os.path.exists(hwm)
    with store._writer_lease():
        assert store.max_sequence() == 3   # leased: repairs the side-file
    assert os.path.exists(hwm)


def test_corrupt_hwm_json_shapes_repair_not_crash(spark, tmp_path):
    """{"max_sequence": null} and bare numbers in the side-file must fall
    through to the scan repair (TypeError was uncaught)."""
    import json as _json

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "hwm_garbage_store")
    store = BlockStore(spark, path)
    store.append_blocks(_mk_blocks(spark, "g", 2, "g"))
    hwm = os.path.join(path, "_max_seq.json")
    for raw in ('{"max_sequence": null}', "3", "[7]"):
        with open(hwm, "w") as fh:
            fh.write(raw)
        assert store.max_sequence() == 2


def test_hwm_repair_only_from_lease_owning_thread(spark, tmp_path):
    """ADVICE r9: the HWM repair guard must test lease-owning THREAD, not
    just process-wide depth. A reader thread calling max_sequence() on a
    missing side-file while a DIFFERENT thread of the same process holds
    the writer lease must not repair-write its (stale-low) scan — that
    could clobber the writer's freshly reserved mark and reuse a sequence
    range."""
    import threading

    from kausaldb_spark.storage import BlockStore

    path = str(tmp_path / "tid_store")
    store = BlockStore(spark, path)
    store.append_blocks(_mk_blocks(spark, "t", 2, "t"))
    hwm = os.path.join(path, "_max_seq.json")

    reader_result: dict = {}

    def reader():
        # no side-file: falls to the scan; must NOT persist it (this thread
        # does not own the lease, even though self._lease_depth > 0)
        reader_result["hi"] = store.max_sequence()
        reader_result["wrote"] = os.path.exists(hwm)

    with store._writer_lease():
        os.unlink(hwm)
        t = threading.Thread(target=reader)
        t.start()
        t.join(120)
        assert reader_result["hi"] == 2          # scan is still correct
        assert reader_result["wrote"] is False   # ...but not persisted
        # the owning thread DOES repair
        assert store.max_sequence() == 2
        assert os.path.exists(hwm)
