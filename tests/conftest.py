import contextlib
import itertools
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="session")
def spark():
    from kausaldb_spark.session import get_spark

    s = get_spark("kausaldb-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single-file parquet; synthesized scale dirs
        # (tools/make_sf1.py) are Spark-written DIRECTORIES — glob those
        p = f"{SF_DIR}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    yield con
    con.close()


_JOB_GROUPS = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark, label):
    """Count the Spark jobs the block runs, under a job group of its own.
    Yields a dict that holds, once the block has exited, ``jobs`` (the job
    ids) and ``tasks`` (the tasks their stages ran; a skipped stage, such
    as the lineage of a filled cache, runs none)."""
    sc = spark.sparkContext
    group = f"{label}-{next(_JOB_GROUPS)}"
    out = {"jobs": [], "tasks": 0}
    sc.setJobGroup(group, label)
    try:
        yield out
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    out["jobs"] = sorted(tracker.getJobIdsForGroup(group))
    out["tasks"] = sum(
        tracker.getStageInfo(sid).numCompletedTasks
        for jid in out["jobs"]
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    )


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mimic the driver's order-insensitive compare: sort columns by name,
    stringify values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    out = df.astype(str)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def assert_frames_match(spark_df, duck_df, name=""):
    a, b = normalize(spark_df), normalize(duck_df)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch spark={list(a.columns)} duck={list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count spark={len(a)} duck={len(b)}"
    if not a.equals(b):
        diff_a = pd.concat([a, b, b]).drop_duplicates(keep=False)
        diff_b = pd.concat([b, a, a]).drop_duplicates(keep=False)
        raise AssertionError(
            f"{name}: value mismatch\nspark-only:\n{diff_a.head(10)}\nduck-only:\n{diff_b.head(10)}"
        )
