"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we'd submit
with ``spark-submit --py-files`` on a real cluster (SURVEY §4.3) — AQE for
runtime re-planning (skew-join splitting, partition coalescing), Arrow for
the pandas stages, UTC session timezone so results compare bit-exactly with
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(app_name: str = "fhir-data-validation-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # local mode shares ONE heap across all task threads — scale it with
    # parallelism (a cluster gives each executor its own heap; here 32
    # concurrent vectorized readers decoding array<int> batches need real
    # headroom: 4096-row batches × ~1k-element arrays × 32 tasks ≈ 0.5 GB
    # of column vectors alone)
    mem = os.environ.get("SPARK_DRIVER_MEM", f"{max(8, cores)}g")
    return (
        SparkSession.builder
        .appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # FAIR job scheduling: concurrent submitters (ResumableRun batch
        # threads, overlapping dataset passes) share executors instead of
        # queueing whole jobs FIFO behind each other
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # InferFiltersFromGenerate synthesizes size(child)>0 under every
        # explode; predicate pushdown then drags the generator's WHOLE
        # child expression below exchanges onto the (often narrow) scan
        # partitions, re-evaluating interpreted HOF chains per row — a
        # measured 2× on shingle pipelines. Its benefit (skipping rows
        # that generate nothing) is ~zero: explode of an empty array
        # already emits no output. Excluded globally.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # array-heavy rows: halve the columnar batch so per-task decode
        # memory stays bounded regardless of tokens-array length
        .config("spark.sql.parquet.columnarReaderBatchSize", "2048")
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows,
                schema: str | StructType) -> DataFrame:
    """A small literal frame planned as a ``LocalRelation``: the rows
    travel to the JVM as one Arrow table, so reading the frame starts no
    Python worker, unlike ``createDataFrame(list)``'s pickled-RDD scan.

    ``rows`` are tuples in ``schema`` order or dicts keyed by field name.
    ``schema`` (a DDL string or ``StructType``, nullability included) is
    the frame's schema exactly; an empty ``rows`` gives an empty frame of
    that schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = [tuple(r.get(n) for n in schema.names) if isinstance(r, dict)
            else r for r in rows]
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow))
