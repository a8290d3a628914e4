"""Checks of the benchmark's seeded generators and of its ground truth.

    python3 -m pytest benchmark/tests -q

The first tests are pure Python. The last ones start a Spark session and
compare the generator's recorded graph and funnel with what the program
computes from the generated inputs: a fresh ``link`` of the tree (also after
edits) and one ``curate_and_write`` of a small corpus.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen_corpus  # noqa: E402
from gen_tree import Tree  # noqa: E402


def test_same_seed_same_bytes():
    assert Tree(7).files() == Tree(7).files()
    assert gen_corpus.make_corpus(7) == gen_corpus.make_corpus(7)


def test_other_seed_other_inputs():
    assert Tree(7).files() != Tree(8).files()
    assert gen_corpus.make_corpus(7)[0] != gen_corpus.make_corpus(8)[0]


def test_edit_script_is_seeded():
    a, b = Tree(7), Tree(7)
    assert [a.edit() for _ in range(5)] == [b.edit() for _ in range(5)]
    assert a.files() == b.files()


def test_defined_names_are_unique():
    units = Tree(7).units()
    bare = [u["bare"] for u in units if u["type"] != "import" or u["bare"].startswith("imp_")]
    assert len(bare) == len(set(bare))


def test_corpus_plants_every_funnel_stage():
    rows, expect = gen_corpus.make_corpus(7)
    f = expect["funnel"]
    assert f["ingested"] == len(rows) == len({r[0] for r in rows})
    stages = list(f.values())
    assert all(a > b for a, b in zip(stages, stages[1:]))
    assert len(expect["kept_ids"]) == f["after_decontamination"]
    assert min(expect["kept_ids"]) >= gen_corpus.BENCHMARK_DOCS


@pytest.fixture(scope="module")
def spark():
    from kausaldb_spark.session import get_spark

    s = get_spark("bench-generator-tests")
    yield s
    s.stop()


def _linked_graph(spark, tree: Tree, tmp) -> tuple[set, set]:
    """(unit ids, (src uid, dst uid, edge type)) of a fresh link of ``tree``."""
    from kausaldb_spark.engine import KausalEngine

    root, store = os.path.join(tmp, "tree"), os.path.join(tmp, "store")
    tree.write(root)
    eng = KausalEngine(spark, store)
    eng.link_codebase(root, "bench")
    blocks = {r["id"]: r["unit_id"]
              for r in eng.store.visible("bench").select("id", "unit_id").collect()}
    edges = {(blocks[r["src"]], blocks[r["dst"]], r["edge_type"])
             for r in eng.store.visible_edges().collect()}
    return set(blocks.values()), edges


@pytest.mark.parametrize("edits", [0, 4])
def test_ground_truth_matches_fresh_link(spark, tmp_path, edits):
    tree = Tree(11)
    for _ in range(edits):
        tree.edit()
    units, edges = _linked_graph(spark, tree, str(tmp_path))
    assert units == {u["uid"] for u in tree.units()}
    assert edges == tree.edges()


def test_curate_funnel_matches_plants(spark, tmp_path):
    from kausaldb_spark.functions.curation import curate_and_write
    from kausaldb_spark.sinks import verify_shards

    rows, expect = gen_corpus.make_corpus(3, n_base=120, n_lowq=6, n_exact=8,
                                          n_near=8, n_overlap=6)
    inp, out = str(tmp_path / "docs.parquet"), str(tmp_path / "shards")
    gen_corpus.write_parquet(rows, inp)
    manifest = curate_and_write(spark, inp, out, n_shards=4, seed=3)
    assert manifest["funnel"] == expect["funnel"]
    assert verify_shards(spark, out)
    kept = {r[0] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == expect["kept_ids"]
