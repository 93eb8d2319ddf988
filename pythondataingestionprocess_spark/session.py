"""SparkSession factory with scale-oriented defaults.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (single JVM),
but every config here is chosen to also make sense on a multi-executor
cluster at ~100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to core count locally; on a real cluster the
  AQE coalesce makes the initial number far less sensitive
- Arrow enabled for the (rare) Pandas-UDF paths
- UTC session timezone so timestamp semantics are stable across
  environments (and match the DuckDB oracle)

Streaming state store: local runs keep the default HDFS-backed
provider (in-heap, fastest at test-sized state). At cluster scale set
``spark.sql.streaming.stateStore.providerClass`` to the bundled
``RocksDBStateStoreProvider`` — keyed state then lives on executor
local disk (block-cache reads) instead of heap, so dedup/session/
funnel state scales with SSD, not memory. Engine compatibility is
proven by tests/test_streaming.py::test_streaming_agg_on_rocksdb_state_store.

Driver-side rows (decoded workbook sheets, lookup lists, typed-empty
bootstrap frames, small markers) become frames through
:func:`local_frame` only. It hands Spark an Arrow table, which Spark
plans as a JVM ``LocalRelation`` (``LocalTableScan``).
``createDataFrame(<python list>)`` would instead ``parallelize`` the
rows into a Python RDD, and every job scanning it would start
``pyspark.daemon`` workers to unpickle them. A ``LocalRelation`` is
also visible to Catalyst: an empty one lets ``PropagateEmptyRelation``
prune joins and unions against it, and small projections over one are
folded on the driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def get_spark(
    app_name: str = "pythondataingestionprocess-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — at real
    cluster scale you would size this to ~2-3x total executor cores
    and let AQE coalesce small post-shuffle partitions.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spill-awareness: 128 MiB scan splits keep a task's working set
        # well under executor memory even after decode amplification
        # (parquet → row ~2-4×); at the 100 TB target this is the knob
        # that bounds per-task memory together with AQE's
        # advisoryPartitionSizeInBytes for post-shuffle partitions
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read as long and convert in the
        # catalog loader (see catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # A handful of day-rollup windows use a constant partition key
        # to declare a tiny single-partition window INTENTIONAL (one
        # row per day) instead of tripping WindowExec's
        # no-partition-defined warning on every bench run. This rule
        # would fold the constant away and resurrect the warning; its
        # only effect is removing foldable window partitions, so
        # excluding it costs nothing (VERDICT r2 item 7).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _has_timestamp(dt: DataType) -> bool:
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return True
    if isinstance(dt, StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    return False


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """A frame over driver-side ``rows`` (tuples in ``schema`` order),
    planned as a JVM ``LocalRelation``: no scan of it starts a Python
    worker (see the module docstring).

    ``schema`` is a ``StructType`` or a DDL string. Column names,
    types, nullability and values match ``createDataFrame(rows,
    schema)``, duplicate and awkward names (dots, accents, backticks)
    included. As on the list path, a ``None`` in a non-nullable column
    and a row of the wrong width raise ``ValueError``.

    One contract differs on purpose: rows for a schema with a timestamp
    anywhere in it are refused with ``TypeError`` (a typed-empty frame
    is fine). The list path reads a naive ``datetime`` in the Python
    process's local zone and the Arrow path in the session zone, so the
    same row would land on a different instant.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    width = len(struct.fields)
    # strict: ragged rows fail here instead of zip truncating columns
    columns = list(zip(*rows, strict=True))
    if columns and len(columns) != width:
        raise ValueError(f"rows have {len(columns)} values, schema has {width} fields")
    if columns and _has_timestamp(struct):
        raise TypeError(
            f"local_frame takes no timestamp values ({struct.simpleString()}):"
            " pass epoch micros as long and cast in Spark"
        )
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns or [()] * width, arrow_schema)],
        schema=arrow_schema,
    )
    for field, col in zip(struct.fields, table.columns):
        if not field.nullable and col.null_count:
            raise ValueError(f"column {field.name!r} is not nullable but holds None")
    return spark.createDataFrame(table, schema=struct)
