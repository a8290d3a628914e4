"""SparkSession factory tuned for the engine.

Local mode mirrors the driver contract (local[$SPARK_GRAFT_CPUS]); the same
configs are the ones we would set on a real cluster: AQE on (runtime shuffle
coalescing + skew-join splitting), generous broadcast threshold (our dimension
tables — nation, id-lists, anchor sets — are tiny relative to fact tables),
Arrow for any pandas exchange, UTC session timezone for deterministic
timestamp arithmetic.
"""

from __future__ import annotations

import contextlib
import os
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# The driver heap's ceiling. local[32] puts 32 executor cores in ONE JVM:
# parquet writers buffer a row group PER TASK outside Spark's memory
# manager (32 x ~128 MB during a wide write), on top of the columnar cache
# and execution memory. A real cluster provisions 1-2 GB per core; 16g gave
# 0.5 GB/core and the r11 sf10 (100x) rehearsal OOM'd the store write
# stage. 48g ~= 1.5 GB/core, the low end of a production executor profile.
MAX_DRIVER_MEM_GB = 48


def driver_memory() -> str:
    """The driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else half the
    machine's physical memory in whole GiB (at least 1), capped at
    MAX_DRIVER_MEM_GB. The JVM does not hand back heap it has grown into:
    on a 15 GB box without swap a 48g heap let the driver grow until the
    machine OOM-killed it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf here
        return f"{MAX_DRIVER_MEM_GB}g"
    return f"{max(1, min(MAX_DRIVER_MEM_GB, phys // 2**31))}g"


def get_spark(
    app_name: str = "kausaldb-spark",
    cpus: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Executor Python workers must be able to import this package even when
    # the driver runs from elsewhere (mapInPandas closures reference it).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + os.pathsep + pythonpath
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.driver.memory", driver_memory())
        # zstd end-to-end for a TEXT-heavy corpus: parquet writes (store
        # copies, bucketed warehouse tables, derived fixtures) and shuffle
        # /broadcast/checkpoint blocks compress ~2x denser than the
        # snappy/lz4 defaults at comparable speed. At 100 TB that halves
        # the network+disk bill of every wide stage; on this box it is
        # what lets the sf10 (100x) bucketed-store materialization fit —
        # its transient peak (store copy + bucket shuffle + warehouse
        # copy, all alive at once) exceeded the disk budget under snappy.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # stage-progress \r spam interleaves with stdout when streams are
        # captured combined (the bench driver's tail window) — keep program
        # stdout clean; progress is recoverable from the event log if needed
        .config("spark.ui.showConsoleProgress", "false")
    )
    # caller-supplied overrides (e.g. the skew gauntlet enables the event
    # log to read per-task durations back out — the straggler audit)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-held rows, handed over as a pandas frame so
    the rows cross to the JVM through Arrow. ``createDataFrame`` of a
    Python list instead sends every plan that reads it through a
    Python-worker stage (about 0.3 s more per read on 4 cores, measured),
    and a literal-array build stalls Catalyst analysis at hundreds of
    rows."""
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=schema.names), schema
    )


_CHECKPOINTS: ContextVar[list | None] = ContextVar("kausal_checkpoints", default=None)


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, released with the ``releasing``
    block it runs in, if any."""
    out = df.localCheckpoint(eager=True)
    if (held := _CHECKPOINTS.get()) is not None:
        held.append(out)
    return out


@contextlib.contextmanager
def releasing():
    """Yield a list for the frames a block persists. When the block exits,
    raising or not, unpersist them and the local checkpoints ``checkpoint``
    made in it (in this thread), whose blocks a long-lived session would
    otherwise keep until the JVM happens to collect their RDDs."""
    held, token = [], _CHECKPOINTS.set([])
    try:
        yield held
    finally:
        for df in held:
            df.unpersist()
        for df in _CHECKPOINTS.get():
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        _CHECKPOINTS.reset(token)
