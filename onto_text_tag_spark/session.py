"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config here is chosen for a
multi-executor cluster reading ~100 TB:

* AQE on (runtime coalescing + skew-join splitting) — the co-occurrence
  self-join has head-term skew by construction (SURVEY.md §4).
* Arrow on with a bounded batch size — all per-row logic lives in pandas
  UDFs; batch size caps executor memory per Python worker.
* shuffle.partitions scales with parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def apply_engine_conf(builder, shuffle_partitions: int | None = None):
    """Engine configs shared by interactive sessions (get_spark) and
    spark-submit jobs (which must NOT touch ``master`` — spark-submit
    owns it, and driver memory is only settable on its command line)."""
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Constraint propagation is quadratic on wide iterative plans and
        # trips a constraints-rewrite bug when localCheckpoint wraps plans
        # that reference prior LogicalRDD checkpoints (iterative closure /
        # connected components); the engine relies on explicit filters, not
        # inferred constraints, so disable it globally.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd over snappy for parquet sinks: measured 1.9 GB -> 1.3 GB
        # AND marginally faster to write on the 500k-doc corpus (the
        # extra compression CPU parallelizes across cores; the saved
        # bytes come off the non-scaling disk) — the corpus-rewrite
        # stage of jobs/dedup_corpus.py is disk-bound on this sandbox.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )


def local_df(spark: SparkSession, rows, schema):
    """Create a driver-sized DataFrame as a LocalRelation (LocalTableScan).

    ``spark.createDataFrame(list)`` plans a Python ``Scan ExistingRDD``
    with ``defaultParallelism`` slices — at local[32] that is 32 Python
    worker round-trips (mostly empty) on EVERY action that touches the
    small table, and on a stalling host each idle worker handshake can
    block for seconds.  Routing through pandas + Arrow produces a pure
    JVM LocalRelation: zero tasks, broadcastable, constant-foldable.

    ``rows``: list of tuples or dicts; ``schema``: DDL string or StructType
    (explicit — pandas must not guess types for empty inputs).

    Empty ``rows`` go through an empty Arrow table: PySpark sends an
    empty pandas frame down the non-Arrow path, which plans the same
    Python ``Scan ExistingRDD``.  Writing the empty LocalRelation still
    produces exactly one (zero-row) parquet file, so bootstrap stages
    keep a footer to read their schema from.
    """
    import pandas as pd

    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):  # "a int, b string" DDL
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    names = [f.name for f in schema.fields]
    if not rows:
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(
            to_arrow_schema(schema).empty_table(), schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def get_spark(
    app_name: str = "onto_text_tag_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # ~2x cores keeps all slots busy without tiny-partition overhead at
        # local scale; on a real cluster this is set per-job from input size.
        shuffle_partitions = max(2 * cores, 8)

    builder = apply_engine_conf(
        SparkSession.builder.appName(app_name).master(master),
        shuffle_partitions=shuffle_partitions,
    ).config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
