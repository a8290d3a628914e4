"""Training-corpus sinks: deterministic sharded output.

The last step of a curation pipeline is writing the corpus in the layout the
training job consumes: N shards, each internally in the (seeded, reproducible)
training order, balanced in size, with a manifest the loader can verify.
This module is that sink, Spark-native:

- shard assignment + within-shard order come from
  :func:`kausaldb_spark.functions.text.shard_and_shuffle` semantics (md5(seed,
  id) sort key), computed INLINE over the payload so no extra join touches the
  corpus;
- the global sort is decomposed into ``n_shards`` independent per-shard sorts
  (one hash exchange + local sort per partition — no single global sort task,
  the property that survives 100 TB);
- files are written with ``partitionBy(shard)`` so a training loader reads
  ``shard=K/`` in file order; ``maxRecordsPerFile`` bounds file sizes for
  object-store-friendly parallel reads;
- the manifest (per-shard row counts + an order-sensitive content hash) is a
  #shards-row aggregate — tiny, driver-collected and driver-sorted, written
  as JSON next to the data. Two writes with the same seed produce
  byte-identical manifests; the loader re-hashes at read time to detect
  truncation/corruption. Both read the written layout back with its schema
  pinned from one part file's footer, so neither pays a schema-inference
  job.

The reference engine has no sharded sink (its LLM output is a single text
stream, ``src/cli/executor.zig`` formatting); this is north-star pipeline
surface per SURVEY.md §2 extensions.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _with_shard_order(docs: DataFrame, n_shards: int, seed: int, id_col: str) -> DataFrame:
    """Payload + (shard, _key) columns — same key derivation as
    shard_and_shuffle, inlined so the corpus is touched once (no join)."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    return docs.withColumn("_key", key).withColumn(
        "shard",
        (F.conv(F.substring(F.col("_key"), 1, 8), 16, 10).cast("bigint") % n_shards)
        .cast("int"),
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 16,
    seed: int = 7,
    id_col: str = "doc_id",
    max_records_per_file: int | None = None,
) -> dict:
    """Write ``docs`` as ``path/shard=K/`` parquet directories, each in the
    seeded training order, and return the manifest (also written to
    ``path/_kdb_manifest.json``).

    Plan shape: one projection (key derivation) → hash exchange on shard →
    per-partition local sort (shard, key) → parquet write. The sort is
    LOCAL (sortWithinPartitions) — asserted non-global in
    tests/test_sinks.py — so task memory is bounded by corpus/n_shards
    regardless of total size; scale n_shards with the corpus.

    The manifest hash is order-SENSITIVE per shard: md5 of the concatenated
    per-row (position-salted) row hashes via a commutative-safe aggregation
    — implemented as xor-free bigint sum of md5(pos || row_key) chunks,
    which is order-insensitive per se, so position is mixed INTO each term
    to make row order part of the digest. Reordering, dropping, or
    duplicating any row changes the digest. The manifest re-reads the
    written shards (``shard_digests``) and sorts its rows by shard."""
    work = _with_shard_order(docs, n_shards, seed, id_col)
    writer = (
        work.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "_key", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(path)

    # manifest written with plain open(): this sink targets posix paths
    # (local/NFS); an object-store deployment swaps this one write for its
    # filesystem client — the Spark-side layout above is store-agnostic
    rows = shard_digests(docs.sparkSession, path, id_col).collect()
    manifest = {
        "n_shards": n_shards,
        "seed": seed,
        "id_col": id_col,
        "digest_version": DIGEST_VERSION,
        "shards": [
            {"shard": r["shard"], "n_rows": r["n_rows"], "digest": r["digest"]}
            for r in sorted(rows, key=lambda r: r["shard"])
        ],
    }
    with open(os.path.join(path, "_kdb_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def _read_written(spark: SparkSession, path: str) -> DataFrame | None:
    """The written layout, read with the schema Spark would infer, pinned
    from the first part file's footer (the writer's stored Spark schema,
    else the parquet one) plus the ``shard int`` partition column: no
    schema-inference job. None when ``path`` holds no part file (a
    zero-survivor write leaves only ``_SUCCESS``); a missing ``path``
    raises, so a typo'd verify path never reads as zero shards."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType, StructType

    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"shard_digests: no written corpus at {path!r} — a zero-"
            "survivor run still leaves the output directory (+_SUCCESS)"
        )
    parts = [os.path.join(root, f) for root, _dirs, files in os.walk(path)
             for f in files if f.endswith(".parquet")]
    if not parts:
        return None
    footer = pq.read_metadata(min(parts))
    stored = (footer.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    schema = (StructType.fromJson(json.loads(stored)) if stored
              else from_arrow_schema(footer.schema.to_arrow_schema()))
    return spark.read.schema(schema.add("shard", IntegerType())).parquet(path)


# Digest formula versions (ADVICE r7: a formula change must not make old
# manifests fail verification indistinguishably from real corruption):
#   1 — r6 formula: md5(pos || values), concat_ws silently skipping NULLs
#   2 — r7+ formula: md5(pos || null-bitmap || coalesced values)
# write_training_shards stamps the version into the manifest; verify_shards
# recomputes with the STAMPED version, so pre-r7 stores (no field -> 1)
# still verify against the formula they were written with.
DIGEST_VERSION = 2


def shard_digests(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    digest_version: int = DIGEST_VERSION,
) -> DataFrame:
    """Per-shard (n_rows, order-sensitive digest) over the written layout —
    the loader-side verification — in no particular row order (callers
    sort the ``n_shards`` rows on the driver). Each row hashes (its
    position in the shard's training order || its payload) and the digest
    sums those hashes' leading 56 bits (no overflow ambiguity at any
    realistic shard size). The SUM is commutative, but the position salt
    makes the result order-sensitive anyway: reordering, dropping, or
    duplicating any row changes it. Verify-time cost = 2 jobs: one hash
    exchange on shard, which the window (positions, a per-shard local
    sort bounded by corpus/n_shards) and the groupBy share, then the
    collect. A layout with no part file gives no rows."""
    from pyspark.sql import Window

    df = _read_written(spark, path)
    if df is None:
        return spark.createDataFrame([], "shard int, n_rows bigint, digest string")
    payload_cols = [c for c in df.columns if c not in ("shard", "_key")]
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("_key", id_col)
    ) - 1
    # NULLs are hashed explicitly: concat_ws SKIPS null inputs, so without
    # a null bitmap two rows that differ only in WHICH column is null
    # (text=NULL,source='x' vs text='x',source=NULL) would alias to one
    # hash and weaken verify_shards. The bitmap disambiguates the layout;
    # coalesce-to-empty keeps the value stream total.
    null_bitmap = F.concat(
        *[
            F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0"))
            for c in payload_cols
        ]
    )
    if digest_version >= 2:
        rowh = F.md5(
            F.concat_ws(
                "\x1f",
                pos.cast("string"),
                null_bitmap,
                *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in payload_cols],
            )
        )
    else:  # v1 (pre-r7): no null bitmap, concat_ws skips NULL inputs
        rowh = F.md5(
            F.concat_ws(
                "\x1f",
                pos.cast("string"),
                *[F.col(c).cast("string") for c in payload_cols],
            )
        )
    chunk = F.conv(F.substring(rowh, 1, 14), 16, 10).cast("decimal(38,0)")
    return (
        df.select("shard", chunk.alias("_chunk"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("_chunk").cast("decimal(38,0)").cast("string").alias("digest"),
        )
    )


def read_training_shards(
    spark: SparkSession, path: str, shard: int | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Read the sharded layout back in training order. With ``shard=K`` only
    that directory is scanned (partition pruning on the shard column); the
    within-shard order is reconstructed from the persisted ``_key`` column
    (a per-shard local sort — never global).

    The hash repartition on ``shard`` is load-bearing: the file scan
    bin-packs files from DIFFERENT shard directories into size-ordered
    splits (and ``maxRecordsPerFile`` splits one shard across files), so a
    bare ``sortWithinPartitions`` would only order each arbitrary scan
    split, not each shard. Re-keying by shard puts every shard's rows in
    exactly one partition (mirroring the writer's layout), after which the
    local sort yields true (shard, _key) iteration order."""
    df = spark.read.parquet(path)
    if shard is not None:
        df = df.where(F.col("shard") == int(shard))
    return df.repartition(F.col("shard")).sortWithinPartitions(
        "shard", "_key", id_col
    )


def verify_shards(spark: SparkSession, path: str, id_col: str = "doc_id") -> bool:
    """Recompute shard digests and compare against the manifest. Returns
    True when every shard matches (count + digest); raises ValueError with
    the mismatching shards otherwise."""
    with open(os.path.join(path, "_kdb_manifest.json")) as fh:
        manifest = json.load(fh)
    want = {s["shard"]: (s["n_rows"], s["digest"]) for s in manifest["shards"]}

    def _mismatches(version: int) -> list:
        got = {
            r["shard"]: (r["n_rows"], r["digest"])
            for r in shard_digests(
                spark, path, id_col, digest_version=version
            ).collect()
        }
        return sorted(
            set(k for k in want if want[k] != got.get(k))
            | set(k for k in got if k not in want)
        )

    if "digest_version" in manifest:
        bad = _mismatches(int(manifest["digest_version"]))
    else:
        # Unstamped manifest: written either pre-r7 (formula v1) or at the
        # r7 revision that already used the v2 null-bitmap formula but did
        # not yet stamp the field (ADVICE r8). The bitmap participates in
        # EVERY row hash, so v1/v2 digests differ on all data — a healthy
        # r7 store would spuriously fail a v1-only check. Accept if EITHER
        # formula reproduces the manifest.
        bad = _mismatches(2)
        if bad:
            bad = _mismatches(1)
    if bad:
        raise ValueError(f"shard digest mismatch: {bad}")
    return True


# ---------------------------------------------------------------------------
# Small-files compaction (table maintenance)
# ---------------------------------------------------------------------------

def dataset_file_stats(src_dir: str) -> dict:
    """Driver-side listing of a parquet dataset's part files — metadata
    only, no data read. Returns {n_files, total_bytes, partitions:
    {rel_dir: (n_files, bytes)}} (partitions = hive-style key=value
    subdirs; '' for the root)."""
    parts: dict = {}
    n_files = 0
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        rel = "" if rel == "." else rel
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            sz = os.path.getsize(os.path.join(root, fn))
            n, b = parts.get(rel, (0, 0))
            parts[rel] = (n + 1, b + sz)
            n_files += 1
            total += sz
    return {"n_files": n_files, "total_bytes": total, "partitions": parts}


def compact_parquet_dataset(
    spark: SparkSession, src_dir: str, dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
    codec: str = "zstd",
) -> dict:
    """Bin-pack a parquet dataset's small files into ~``target_file_bytes``
    outputs — the table-maintenance job every long-running ingest needs
    (streaming appends and per-batch dynamic overwrites accrete tiny
    part files; at 100 TB an uncompacted layout turns every scan into a
    metadata storm and caps split parallelism at the file count).

    - file count is sized from the ACTUAL on-disk bytes (driver listing,
      no data read): ``n_out = ceil(total_bytes / target)``;
    - unpartitioned: one ``repartition(n_out)`` — a single round-robin
      exchange, no skew (row-count balance ~= byte balance within a
      homogeneous dataset);
    - partitioned (``partition_col``): rows re-hash by the partition
      value and the writer re-emits ``partitionBy`` hive dirs, so
      partition pruning survives compaction; small values collapse to
      one file each;
    - verification BEFORE anyone reads it: source and destination row
      counts must match or the compact raises (and removes nothing);
    - the swap is the caller's move (local FS: rename; object store:
      versioned prefix + manifest flip — same caveat as
      streaming/corpus.compact_minhash_index).

    Returns {rows, src: stats, dst: stats}."""
    import math

    src_stats = dataset_file_stats(src_dir)
    if src_stats["n_files"] == 0:
        raise FileNotFoundError(f"no parquet part files under {src_dir}")
    n_out = max(1, math.ceil(src_stats["total_bytes"] / target_file_bytes))
    df = spark.read.parquet(src_dir)
    n_src_rows = df.count()
    if partition_col is not None:
        out = df.repartition(n_out, F.col(partition_col))
        writer = out.write.mode("overwrite").partitionBy(partition_col)
    else:
        out = df.repartition(n_out)
        writer = out.write.mode("overwrite")
    writer.option("compression", codec).parquet(dst_dir)
    n_dst_rows = spark.read.parquet(dst_dir).count()
    if n_dst_rows != n_src_rows:
        raise RuntimeError(
            f"compaction row-count mismatch: {n_src_rows} -> {n_dst_rows}"
        )
    return {
        "rows": n_src_rows,
        "src": src_stats,
        "dst": dataset_file_stats(dst_dir),
    }
