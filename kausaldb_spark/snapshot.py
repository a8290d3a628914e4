"""MVCC snapshot view — last-writer-wins + tombstone shadowing.

Reference semantics (``src/storage/engine.zig:839-925``, ``docs/DESIGN.md:29-33``):
a read sees, per block id, the version with the highest ``sequence``, unless a
tombstone with ``sequence >= `` that version's exists, in which case the block
is invisible (a tombstone shadows everything at-or-below its own sequence —
the comparator the oracle twin, ``tombstone_where``'s docstring, and the
tombstone_sequencing scenario all pin). A rewrite with a sequence *strictly
above* the tombstone resurrects the id
(scenario ``src/tests/scenarios/tombstone_sequencing.zig``).

Equality edge (ADVICE r9): the reference's ``shadows_sequence``
(``src/storage/tombstone.zig:47``) is strictly greater (``ts.sequence >
block.sequence``) — at EQUAL sequences it keeps the block visible, while
this view hides it. The edge is unreachable in both systems: the reference
assigns every tombstone a fresh global sequence above all existing blocks
(``src/storage/engine.zig:1132-1174``), and this repo's reserve-then-write
HWM discipline (``storage.max_sequence``) does the same, so no tombstone
ever carries a sequence equal to a block's. We deliberately keep ``>=``
here because it is the safer comparator if the invariant were ever
violated (a delete can never be silently lost), matching the oracle twin.

Spark shape: window dedup + broadcast anti-join. The window partitions by
``id`` — at 100 TB this is one shuffle on the snapshot's natural key, and the
result is persisted/reused by every read (the LSM engine pays the equivalent
merge cost on every read instead). Tombstone sets are tiny relative to the
block set (deletes are rare), so the anti-join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_versions(blocks_raw: DataFrame) -> DataFrame:
    """Per id, the highest-sequence version (last writer wins).

    Physical shape (r12 optimization round, guide §2.4): argmax-per-id as a
    ``max_by`` hash aggregate — partial (map-side) aggregation collapses
    co-located versions before the exchange and no Sort is needed, where
    the previous row_number window shuffled every version row and then
    sorted each partition. Row-identical: sequences are unique per id (the
    store's reserve-then-write HWM discipline assigns every batch a fresh
    range; the graph fixture uses disjoint sequence bands), so the argmax
    is well-defined. Pinned by the MVCC property tests and the oracle
    parity sweep (whose DuckDB twin keeps the window formulation)."""
    cols = blocks_raw.columns  # preserve the input column order exactly
    others = [c for c in cols if c != "id"]
    packed = blocks_raw.groupBy("id").agg(
        F.max_by(F.struct(*others), F.col("sequence")).alias("_s")
    )
    return packed.select(
        *[
            F.col("id") if c == "id" else F.col(f"_s.{c}").alias(c)
            for c in cols
        ]
    )


def visible_blocks(blocks_raw: DataFrame, tombstones: DataFrame) -> DataFrame:
    """The snapshot every query reads: latest versions minus tombstoned ids."""
    latest = latest_versions(blocks_raw)
    shadow = F.broadcast(
        tombstones.select("block_id", F.col("sequence").alias("_ts_seq"))
    )
    # no per-id tombstone aggregate: the sequence condition rides the join
    cond = (latest.id == shadow.block_id) & (shadow._ts_seq >= latest.sequence)
    return latest.join(shadow, cond, "left_anti")
