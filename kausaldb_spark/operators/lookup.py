"""Point/batch lookups and name/path/keyword queries (SURVEY.md §2.1 S5-S6,
§2.3 N1-N4).

Reference: ``src/query/engine.zig:536-659`` (find_by_name / find_by_file_path),
``src/query/operations.zig:207-256,353-437`` (keyword search, existence
counts), ``src/storage/engine.zig:927-1130`` (point + batched lookups).

Scale notes: point lookups are `where(id == x)` — parquet min/max + bloom
stats do the SSTable-style skipping the reference hand-built. Batch lookups
broadcast the id list into a semi-join (the reference's batched bloom-check
amortization, S6). Keyword scoring is a pure column expression (sum of
per-word `contains` casts) — whole-stage codegen, no UDF, so it vectorizes
over 100 TB the same as any scan + top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_FIND_RESULTS = 1_000    # src/query/operations.zig:47
MAX_KEYWORD_RESULTS = 500   # src/query/operations.zig:213

# CLI alias: `struct` → storage `type` (src/query/engine.zig:552-566)
_UNIT_TYPE_ALIASES = {"struct": "type"}


def find_block(blocks: DataFrame, block_id: str) -> DataFrame:
    """S5 point lookup against the snapshot view."""
    return blocks.where(F.col("id") == F.lit(block_id))


def find_blocks_batched(blocks: DataFrame, ids_df: DataFrame) -> DataFrame:
    """S6 batch point lookup: broadcast semi-join on the id set."""
    ids = F.broadcast(ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct())
    return blocks.join(ids, "id", "left_semi")


def _entity_name() -> Column:
    # entity = last ':'-segment of unit_id (src/query/engine.zig:536-615)
    return F.element_at(F.split(F.col("unit_id"), ":"), -1)


def find_by_name(
    blocks: DataFrame, workspace: str, unit_type: str, name: str
) -> DataFrame:
    """N1: workspace + unit_type (with CLI alias) + entity-name match.
    Qualified names ('Foo.bar') compare against the same last segment —
    our unit_ids store the qualified form there."""
    ut = _UNIT_TYPE_ALIASES.get(unit_type, unit_type)
    return (
        blocks.where(
            (F.col("codebase") == workspace)
            & (F.col("unit_type") == ut)
            & (_entity_name() == name)
        )
        .orderBy("sequence", "id")
        .limit(MAX_FIND_RESULTS)
    )


def find_by_file_path(blocks: DataFrame, workspace: str, file_path: str) -> DataFrame:
    """N2: all blocks of one file in one workspace. Deterministic
    (sequence, id) order before the cap — the reference truncates in storage
    order, which is its write order."""
    return (
        blocks.where((F.col("codebase") == workspace) & (F.col("file_path") == file_path))
        .orderBy("sequence", "id")
        .limit(MAX_FIND_RESULTS)
    )


def keyword_score(query: str) -> tuple[Column, int]:
    """N3 scoring: fraction of space-split query words contained (substring)
    in ``content`` (src/query/operations.zig:421-437). Returns (matched-count
    column, total words); score = matched/total."""
    words = [w for w in query.split(" ") if w]
    matched = None
    for w in words:
        c = F.col("content").contains(w).cast("int")
        matched = c if matched is None else matched + c
    return matched, len(words)


def keyword_search(
    blocks: DataFrame,
    query: str,
    threshold: float = 0.7,
    max_results: int = MAX_KEYWORD_RESULTS,
) -> DataFrame:
    """N3: score every block, keep score ≥ threshold, sort desc, cap.
    Adds int columns score_matched / score_total (exact, oracle-friendly)
    plus the float score; ties broken by id for determinism."""
    max_results = min(max_results, MAX_KEYWORD_RESULTS)
    matched, total = keyword_score(query)
    if total == 0:
        # empty/whitespace query: nothing can score — empty result, not a
        # divide-by-zero (reference rejects empty queries up front)
        return (
            blocks.withColumn("score_matched", F.lit(0))
            .withColumn("score_total", F.lit(0))
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )
    return (
        blocks.withColumn("score_matched", matched)
        .withColumn("score_total", F.lit(total))
        .withColumn("score", F.col("score_matched") / F.lit(float(total)))
        .where(F.col("score") >= threshold)
        .orderBy(F.col("score").desc(), "id")
        .limit(max_results)
    )
