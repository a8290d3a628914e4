"""One curation pass counts itself: the funnel comes from observations on
evaluations that already run, the pass stays under its job ceiling, no
pass waits on an observation nobody fills, and a raising pass releases
every frame it persisted."""

import random
import threading

import pytest
from conftest import SF_DIR, spark_jobs

from kausaldb_spark import sinks
from kausaldb_spark.functions import curation

STOPWORDS = ("the of and to in is that for it with as was on be by this are "
             "from at or an not but have").split()
_SYL = "ka lo mi ter san vu dor pel ri gon fa zu ben cho nix tal".split()
VOCAB = [a + b for a in _SYL for b in _SYL]
N_BENCH = curation.BENCHMARK_MAX_ID


def _text(rng: random.Random, n: int) -> list[str]:
    """n tokens opening with "the", so the language filter never reads a
    doc as undetermined."""
    return ["the"] + [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(VOCAB)
                      for _ in range(n - 1)]


def planted_corpus(seed: int, n_base: int = 60, n_lowq: int = 6, n_exact: int = 6,
                   n_near: int = 6, n_overlap: int = 6):
    """Rows (doc_id, text, lang, source) with rejects planted for every
    funnel stage, the funnel they give and the ids the shards must hold:
    five-token docs (quality gate), whitespace-noised copies (exact dedup),
    copies with the last token replaced (near dedup), the benchmark docs
    and docs carrying a 12-token span of one (decontamination). Copies get
    higher ids than their originals, so the survivors are the base docs."""
    rng = random.Random(seed)
    bench = [_text(rng, rng.randint(90, 130)) for _ in range(N_BENCH)]
    base = {N_BENCH + i: _text(rng, rng.randint(90, 130)) for i in range(n_base)}
    texts = {i: " ".join(t) for i, t in enumerate(bench)}
    texts.update({i: " ".join(t) for i, t in base.items()})
    next_id = N_BENCH + n_base
    planted = [" ".join(_text(rng, 5)) for _ in range(n_lowq)]
    planted += ["  " + texts[i].replace(" ", " \t ", 3) + "  "
                for i in rng.sample(sorted(base), n_exact)]
    for i in rng.sample(sorted(base), n_near):
        toks = list(base[i])
        toks[-1] = next(w for w in VOCAB if w != toks[-1])
        planted.append(" ".join(toks))
    for _ in range(n_overlap):
        b, toks = rng.choice(bench), _text(rng, rng.randint(60, 90))
        at, cut = rng.randrange(len(b) - 12), rng.randrange(len(toks))
        planted.append(" ".join(toks[:cut] + b[at:at + 12] + toks[cut:]))
    for t in planted:
        texts[next_id] = t
        next_id += 1
    rows = [(i, texts[i], "en", f"src{i % 3}") for i in sorted(texts)]
    after_near = len(rows) - n_lowq - n_exact - n_near
    funnel = {
        "ingested": len(rows),
        "after_quality_gate": len(rows) - n_lowq,
        "after_exact_dedup": len(rows) - n_lowq - n_exact,
        "after_near_dedup": after_near,
        "after_decontamination": after_near - N_BENCH - n_overlap,
    }
    return rows, funnel, set(base)


def _write_corpus(spark, rows, path):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    rows, funnel, kept = planted_corpus(seed=5)
    path = _write_corpus(spark, rows, str(tmp_path_factory.mktemp("planted") / "c.parquet"))
    return path, funnel, kept


def _returns_in_time(fn, timeout=300):
    """fn()'s result, run on a daemon thread so that a call waiting on an
    observation no action fills fails the test instead of hanging the run."""
    answer = []
    call = threading.Thread(target=lambda: answer.append(fn()), daemon=True)
    call.start()
    call.join(timeout=timeout)
    assert answer, "curate_and_write raised or did not return"
    return answer[0]


# Spark jobs one curate_and_write pass over the planted corpus may start,
# on 4 and 8 cores alike: 33. Before
# the funnel was observed on the pass's own evaluations (a count() per
# stage, the decontamination run again by the write, the shards' schema
# inferred and their digests sorted by a global orderBy) it ran 55.
CURATE_JOB_CEILING = 33
# Spark jobs a verify_shards may start: one shuffle map stage on the
# shard key and the job that collects the per-shard digests.
VERIFY_SHARDS_JOBS = 2


def test_curate_pass_counts_itself_under_its_job_ceiling(spark, planted, tmp_path):
    """A pass gives the planted funnel and keeps exactly the base docs,
    within its job ceiling; the manifest it returns verifies in two jobs."""
    path, funnel, kept = planted
    out = str(tmp_path / "shards")
    with spark_jobs(spark, "curate-pass") as run:
        m = curation.curate_and_write(spark, path, out, n_shards=4, seed=3)
    assert m["funnel"] == funnel
    assert {r[0] for r in spark.read.parquet(out).select("doc_id").collect()} == kept
    assert len(run["jobs"]) <= CURATE_JOB_CEILING, len(run["jobs"])

    with spark_jobs(spark, "verify-shards") as run:
        assert sinks.verify_shards(spark, out)
    assert len(run["jobs"]) <= VERIFY_SHARDS_JOBS, len(run["jobs"])


def test_failed_write_releases_persisted_frames(spark, planted, tmp_path, monkeypatch):
    """A pass whose write raises leaves no persisted frame behind: the
    daemon's `kausal curate` runs passes in one long-lived session."""
    path, _funnel, _kept = planted

    def persistent_rdds() -> set:
        # ids, not a size: the map holds its RDDs weakly, so an RDD left
        # by an earlier test may be collected during the call
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_rdds()
    at_write = []

    def failing_write(*_args, **_kwargs):
        at_write.append(persistent_rdds() - before)
        raise RuntimeError("sink down")

    monkeypatch.setattr(sinks, "write_training_shards", failing_write)
    with pytest.raises(RuntimeError, match="sink down"):
        curation.curate_and_write(spark, path, str(tmp_path / "shards"), n_shards=2)
    assert at_write and at_write[0]  # the pass held persisted RDDs then
    assert persistent_rdds() - before == set()


def test_zero_survivor_funnel_never_waits(spark, tmp_path):
    """C4's line rules empty the raw fixture (no terminal punctuation):
    every stage after them observes zero rows, and the call returns."""
    m = _returns_in_time(lambda: curation.curate_and_write(
        spark, f"{SF_DIR}/documents.parquet", str(tmp_path / "shards"),
        n_shards=2, c4=True,
    ))
    assert m["funnel"] == {
        "ingested": 500, "after_quality_gate": 392, "after_c4_rules": 0,
        "after_exact_dedup": 0, "after_near_dedup": 0, "after_decontamination": 0,
    }
    assert m["shards"] == []
    assert sinks.verify_shards(spark, str(tmp_path / "shards"))


def test_corpus_without_near_dup_pairs_never_waits(spark, tmp_path):
    """No near-dup pair: the anti-join against the non-canonicals has an
    empty side, and the near-dup stage observes what the exact one kept."""
    rows, funnel, kept = planted_corpus(seed=9, n_near=0)
    path = _write_corpus(spark, rows, str(tmp_path / "c.parquet"))
    out = str(tmp_path / "shards")
    m = _returns_in_time(lambda: curation.curate_and_write(spark, path, out, n_shards=2))
    assert m["funnel"] == funnel
    assert funnel["after_near_dedup"] == funnel["after_exact_dedup"]
    assert {r[0] for r in spark.read.parquet(out).select("doc_id").collect()} == kept


# rows the mixture below writes (as before the funnel was observed): src0
# and src1 sampled down to a 4,000-token budget, src2 dropped
MIXTURE_ROWS = 35


def test_mixture_run_funnel_never_waits(spark, planted, tmp_path):
    """With a token-budget mixture, the funnel stages before it are
    observed on the mixture's own actions and after_mixture counts the
    rows written."""
    path, funnel, _kept = planted
    out = str(tmp_path / "shards")
    m = _returns_in_time(lambda: curation.curate_and_write(
        spark, path, out, n_shards=2,
        targets={"src0": 0.5, "src1": 0.5}, budget_tokens=4_000,
    ))
    assert {k: v for k, v in m["funnel"].items() if k != "after_mixture"} == funnel
    assert m["funnel"]["after_mixture"] == MIXTURE_ROWS
    assert sum(s["n_rows"] for s in m["shards"]) == MIXTURE_ROWS
    assert sinks.verify_shards(spark, out)


def test_stage_rows_reads_the_observation_or_counts_a_pruned_frame(spark):
    """A reported observation gives a stage's rows with no job; an
    observed node the optimiser pruned from the plan that ran (Spark
    reports an empty row) is counted instead."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    seen = spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))
    assert seen.where("id > 0").count() == 2
    with spark_jobs(spark, "stage-rows-observed") as run:
        assert curation._stage_rows(seen, obs) == 3
    assert run["jobs"] == []

    obs = Observation()
    seen = spark.range(5).observe(obs, F.count(F.lit(1)).alias("n"))
    empty = spark.createDataFrame([], "k long")
    assert seen.join(empty, seen.id == empty.k).collect() == []  # join pruned
    assert curation._stage_rows(seen, obs) == 5
