"""pandas ingest/egress with schema-metadata preservation (SURVEY §2.1).

Reference path: ``Table.from_pandas`` (table.pxi:843 -> pandas_compat.py:318
-> numpy_to_arrow.cc) and ``Table.to_pandas`` (table.pxi:1014 ->
arrow_to_pandas.cc), with the pandas schema JSON stashed under the
``b'pandas'`` metadata key (pandas_compat.py:184 construct_metadata).

Spark path: ``createDataFrame``/``toPandas`` ride Arrow batches (the very
integration the reference blog benchmarked at 28x, site/_posts/
2017-07-26-spark-arrow.md); we add the metadata layer Spark drops:
index preservation and the per-field arrow-type record from ``types``.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from apache_arrow_spark.session import _scoped_conf
from apache_arrow_spark.types import ARROW_META_KEY, arrow_to_spark_schema

PANDAS_META_KEY = "pandas"
INDEX_PREFIX = "__index_level_"

_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
# Arrow caps one buffer at 2 GiB; ingest batches stay a quarter of that.
_MAX_BATCH_BYTES = 512 << 20


def _ingest_batch_rows(spark: SparkSession, pdf: pd.DataFrame) -> int:
    """Arrow batch size for ``createDataFrame(pdf)``.  Spark makes one
    partition per batch, so aim for about one batch per core: never below
    the session's own batch size, and never above ``_MAX_BATCH_BYTES`` of
    the frame's measured bytes (a strided sample, deep for object
    columns)."""
    session = int(spark.conf.get(_BATCH_KEY))
    rows = len(pdf)
    if session <= 0 or rows <= session:
        return session
    per_core = -(-rows // spark.sparkContext.defaultParallelism)
    sample = pdf.iloc[:: max(1, rows // 4096)]
    row_bytes = sample.memory_usage(index=False, deep=True).sum() / len(sample)
    return max(session, min(per_core, int(_MAX_BATCH_BYTES // max(row_bytes, 1))))


def from_pandas(
    spark: SparkSession,
    pdf: pd.DataFrame,
    preserve_index: bool = False,
    schema: T.StructType | None = None,
) -> DataFrame:
    """DataFrame ingest.  ``preserve_index=True`` materializes the index as
    ``__index_level_0__`` columns and records their names — the reference's
    behavior (pandas_compat.py:318 dataframe_to_arrays).

    The Arrow batch size is raised for the call (``_ingest_batch_rows``):
    the session default would turn a 4 M-row frame into 420 one-batch
    partitions, each its own task downstream."""
    index_meta = []
    if preserve_index:
        pdf = pdf.copy()
        for level, name in enumerate(pdf.index.names):
            colname = f"{INDEX_PREFIX}{level}__"
            pdf[colname] = pdf.index.get_level_values(level)
            index_meta.append({"name": name, "column": colname})
        pdf = pdf.reset_index(drop=True)
    with _scoped_conf(spark, _BATCH_KEY, str(_ingest_batch_rows(spark, pdf))):
        sdf = spark.createDataFrame(pdf, schema=schema)
    if index_meta:
        # stash the pandas payload on the first field's metadata (Spark has
        # no schema-level metadata; field 0 plays that role)
        fields = list(sdf.schema.fields)
        meta0 = dict(fields[0].metadata or {})
        meta0[PANDAS_META_KEY] = json.dumps({"index_columns": index_meta})
        fields[0] = T.StructField(fields[0].name, fields[0].dataType, fields[0].nullable, meta0)
        # .to() attaches field metadata plan-side (Spark 4) — no RDD
        # round-trip, the Arrow ingest path stays intact
        sdf = sdf.to(T.StructType(fields))
    return sdf


def to_pandas(df: DataFrame, arrow_batch_rows: int = 1_000_000) -> pd.DataFrame:
    """Arrow-path egress; restores a preserved index when the metadata
    payload is present (pandas_compat.py:492 table_to_blockmanager).

    Temporarily raises ``arrow.maxRecordsPerBatch`` for the collect: egress
    wants few large Arrow batches (6-8x faster than the 10k default for
    narrow frames), while the session default stays small for pandas-UDF
    paths where per-batch memory matters.
    """
    with _scoped_conf(df.sparkSession, _BATCH_KEY, str(arrow_batch_rows)):
        pdf = df.toPandas()
    payload = None
    for f in df.schema.fields:
        if f.metadata and PANDAS_META_KEY in f.metadata:
            payload = json.loads(f.metadata[PANDAS_META_KEY])
            break
    if payload:
        cols = [m["column"] for m in payload["index_columns"]]
        names = [m["name"] for m in payload["index_columns"]]
        pdf = pdf.set_index(cols)
        pdf.index.names = names
    return pdf


def from_arrow(spark: SparkSession, table) -> DataFrame:
    """pyarrow.Table -> DataFrame through the engine's type mapping (uint
    widening etc. recorded in field metadata)."""
    import pyarrow as pa

    target = arrow_to_spark_schema(table.schema)
    # physically widen lossy columns before handing to Spark
    cast_fields = []
    for f, sf in zip(table.schema, target.fields):
        at = f.type
        if pa.types.is_dictionary(at):
            at = at.value_type
        cast_fields.append(pa.field(f.name, _physical_arrow_type(sf.dataType), f.nullable))
    table = table.cast(pa.schema(cast_fields))
    sdf = spark.createDataFrame(table)  # native Arrow ingestion (Spark 4)
    return sdf.to(target)  # applies exact types + field metadata


def _physical_arrow_type(st: T.DataType):
    import pyarrow as pa

    mapping = {
        T.ByteType: pa.int8(), T.ShortType: pa.int16(), T.IntegerType: pa.int32(),
        T.LongType: pa.int64(), T.FloatType: pa.float32(), T.DoubleType: pa.float64(),
        T.StringType: pa.string(), T.BinaryType: pa.binary(), T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(), T.TimestampNTZType: pa.timestamp("us"),
    }
    for k, v in mapping.items():
        if isinstance(st, k):
            return v
    if isinstance(st, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(st, T.DecimalType):
        return pa.decimal128(st.precision, st.scale)
    if isinstance(st, T.ArrayType):
        return pa.list_(_physical_arrow_type(st.elementType))
    if isinstance(st, T.StructType):
        return pa.struct([pa.field(f.name, _physical_arrow_type(f.dataType), f.nullable) for f in st.fields])
    raise NotImplementedError(str(st))
