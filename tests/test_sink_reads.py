"""The sink reads its written layout back with a schema pinned from the
first part file's footer: the schema equals Spark's own inference, and
verify_shards still catches every kind of damage."""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from kausaldb_spark import sinks


def _names_and_types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def _layouts(spark, tmp_path):
    """Written layouts of the sink's test frames: the NULL-bearing frames
    of the null-layout and legacy-manifest tests, and the fixture corpus
    split by max_records_per_file."""
    nulls = "doc_id long, text string, source string"
    frames = {
        "null_layout": (spark.createDataFrame([(1, None, "x"), (2, "x", None)], nulls), {}),
        "legacy": (spark.createDataFrame(
            [(1, "a", None), (2, None, "b"), (3, "c", "d"), (4, "e", "f")], nulls), {}),
        "split": (spark.read.parquet(f"{SF_DIR}/documents.parquet"),
                  {"max_records_per_file": 50}),
    }
    for name, (df, kw) in frames.items():
        path = str(tmp_path / name)
        sinks.write_training_shards(df, path, n_shards=2, seed=7, **kw)
        yield name, path


def test_pinned_schema_equals_inferred_schema(spark, tmp_path):
    for name, path in _layouts(spark, tmp_path):
        pinned = sinks._read_written(spark, path)
        assert _names_and_types(pinned.schema) == _names_and_types(
            spark.read.parquet(path).schema
        ), name
        assert pinned.count() == spark.read.parquet(path).count(), name
        assert sinks.verify_shards(spark, path), name


def _part_files(path):
    return sorted(glob.glob(os.path.join(path, "shard=*", "*.parquet")))


@pytest.fixture
def split_layout(spark, tmp_path):
    path = str(tmp_path / "split")
    sinks.write_training_shards(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), path,
        n_shards=2, seed=7, max_records_per_file=50,
    )
    return path


def test_verify_raises_on_a_tampered_digest(spark, split_layout):
    mp = os.path.join(split_layout, "_kdb_manifest.json")
    with open(mp) as fh:
        m = json.load(fh)
    m["shards"][1]["digest"] = str(int(m["shards"][1]["digest"]) + 1)
    with open(mp, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match=r"digest mismatch: \[1\]"):
        sinks.verify_shards(spark, split_layout)


def test_verify_raises_on_a_deleted_part_file(spark, split_layout):
    os.remove(_part_files(split_layout)[-1])
    with pytest.raises(ValueError, match="digest mismatch"):
        sinks.verify_shards(spark, split_layout)


def test_verify_raises_on_a_part_file_with_one_changed_row(spark, split_layout):
    """The first part file is rewritten outside Spark, checksum sidecar
    dropped, so its footer no longer holds the writer's Spark schema: the
    pinned read falls back to the parquet schema and still sees the one
    changed row."""
    part = _part_files(split_layout)[0]
    table = pq.read_table(part)
    texts = table.column("text").to_pylist()
    texts[0] = texts[0] + " x"
    table = table.set_column(table.schema.get_field_index("text"), "text", [texts])
    pq.write_table(table, part)
    head, name = os.path.split(part)
    os.remove(os.path.join(head, f".{name}.crc"))
    assert _names_and_types(sinks._read_written(spark, split_layout).schema) == (
        _names_and_types(spark.read.parquet(split_layout).schema)
    )
    with pytest.raises(ValueError, match=r"digest mismatch: \[0\]"):
        sinks.verify_shards(spark, split_layout)


def test_no_part_file_gives_zero_shards_and_a_missing_path_raises(spark, tmp_path):
    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    path = str(tmp_path / "empty")
    m = sinks.write_training_shards(empty, path, n_shards=2, seed=7)
    assert m["shards"] == [] and _part_files(path) == []
    assert sinks.shard_digests(spark, path).collect() == []
    assert sinks.verify_shards(spark, path)
    with pytest.raises(FileNotFoundError):
        sinks.shard_digests(spark, str(tmp_path / "never_written"))
