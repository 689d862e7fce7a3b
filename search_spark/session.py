"""SparkSession factory with scale-oriented defaults.

All jobs (tests, bench, CLI) go through :func:`get_spark` so that the
configuration that matters at 100 TB — AQE, skew-join handling, Arrow
batching for pandas UDFs, shuffle-partition sizing — is applied uniformly.

Tables the driver builds from Python rows (constant dims, driver-side
graph results, query seeds) go through :func:`local_df`. It ships the
rows to the JVM as one Arrow table, which plans as a ``LocalTableScan``.
``spark.createDataFrame(<list>)`` would instead plan a ``Scan
ExistingRDD`` over a ``PythonRDD`` and start Python workers every time
the table is scanned, although no UDF runs.
"""

from __future__ import annotations

import os

# One BLAS thread per python worker — the parallelism unit is the Spark
# task (one python worker per core); nested BLAS thread pools inside 32
# workers oversubscribe the host and make scaling measurements meaningless.
# Must be in the environment BEFORE the JVM (and hence the forked python
# worker daemon) starts, because OpenBLAS sizes its pool at library load.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql.types import DataType, StructType  # noqa: E402

# Tuned for the sandbox (local[N], 128 GiB); on a real cluster the same keys
# apply, only sizes change (shuffle.partitions ≈ 2-3× total cores, bounded by
# AQE coalescing; maxRecordsPerBatch trades UDF memory vs. amortization).
_DEFAULTS = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting — the north rule demands explicit skew handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / mapInPandas (the NLP hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Sized for local[32]; AQE coalesces when partitions end up tiny.
    "spark.sql.shuffle.partitions": "32",
    # Scan-split sizing (explicit, same as the Spark default): 128 MiB of
    # input per task keeps a task's working set bounded regardless of file
    # layout — at 100 TB this, not file count, controls scan parallelism.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Deterministic timestamps across JVM/duckdb comparisons.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (ontology shards, pattern tables, mining
    # schema) are small; 64 MiB keeps them map-side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Generated-code cache: one 32-doc ingest batch compiles ~166 distinct
    # classes and a session serving mine/sparql/path/graph requests ~180,
    # so Spark's 100 entries evict each class before the next batch or
    # request reuses it and every warm call recompiles. 1000 holds both
    # working sets together ~3x over. Static conf: it is read once, when
    # the JVM's CodeGenerator first initializes, so a session not built
    # here (e.g. the external driver's one handed to
    # __spark_entry__.entry) keeps 100.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # on a real cluster the executors don't inherit the driver env — pin
    # single-threaded BLAS for python workers there too
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
}


def get_spark(
    app_name: str = "search_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    Parameters
    ----------
    master
        Override the master URL (e.g. ``local[8]`` for the scaling bench).
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    extra_conf
        Per-job overrides applied last.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        # running under spark-submit (PythonRunner started the JVM first):
        # the gateway already carries --master / --conf from the submit
        # command line — forcing .master() here would silently override the
        # cluster the user asked for, so honor the submit-provided one
        pass
    else:
        if master is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
            master = f"local[{cpus}]"
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """Driver-side rows → a DataFrame that plans as a ``LocalTableScan``.

    ``rows`` is an iterable of tuples in ``schema`` order; ``schema`` is a
    DDL string (``"id string, n bigint"``) or a ``StructType``. The rows
    become one ``pyarrow.Table`` of exactly that schema, so no type is
    inferred and a value of the wrong type raises here. There is no
    fallback to the list path: that path is the Python-worker scan this
    helper exists to avoid.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(
        schema
    )
    rows = [tuple(r) for r in rows]
    width = len(struct.fields)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(f"local_df row {bad!r} does not have {width} fields")
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
