"""Arrow <-> Spark type mapping with metadata-preserving round-trip
(SURVEY §1.2; cpp/src/arrow/type.h:44-134, format/Schema.fbs:194-216).

Spark has no unsigned ints, no sub-µs timestamps, no time-of-day, no half
float, no union, no dictionary *logical* type.  Policy (same one Spark
itself adopted for parquet uints): widen the physical type and record the
original arrow type in ``StructField.metadata['arrow']`` so egress can
reconstruct it.  This is the engine's analog of the reference's
``b'pandas'`` schema payload (python/pyarrow/pandas_compat.py:184).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

ARROW_META_KEY = "arrow"

# arrow type -> (spark type, lossless)
_PRIMITIVE = {
    pa.null(): (T.NullType(), True),
    pa.bool_(): (T.BooleanType(), True),
    pa.int8(): (T.ByteType(), True),
    pa.int16(): (T.ShortType(), True),
    pa.int32(): (T.IntegerType(), True),
    pa.int64(): (T.LongType(), True),
    pa.uint8(): (T.ShortType(), False),
    pa.uint16(): (T.IntegerType(), False),
    pa.uint32(): (T.LongType(), False),
    pa.uint64(): (T.DecimalType(20, 0), False),
    pa.float16(): (T.FloatType(), False),
    pa.float32(): (T.FloatType(), True),
    pa.float64(): (T.DoubleType(), True),
    pa.string(): (T.StringType(), True),
    pa.large_string(): (T.StringType(), True),
    pa.binary(): (T.BinaryType(), True),
    pa.large_binary(): (T.BinaryType(), True),
    pa.date32(): (T.DateType(), True),
    pa.date64(): (T.DateType(), False),  # sub-day millis truncate (cast.cc:387)
}


def arrow_to_spark_type(at: pa.DataType) -> tuple[T.DataType, dict]:
    """Map one arrow type to (spark type, metadata describing the original).

    Metadata is non-empty whenever the mapping loses information — the
    ``lossless=False`` rows of SURVEY §1.2's table.
    """
    meta: dict = {}
    if at in _PRIMITIVE:
        spark_t, lossless = _PRIMITIVE[at]
        if not lossless:
            meta = {"type": str(at)}
        return spark_t, meta
    if pa.types.is_fixed_size_binary(at):
        return T.BinaryType(), {"type": "fixed_size_binary", "byte_width": at.byte_width}
    if pa.types.is_timestamp(at):
        meta = {"type": "timestamp", "unit": at.unit, "tz": at.tz}
        if at.tz is None:
            return T.TimestampNTZType(), meta
        return T.TimestampType(), meta
    if pa.types.is_time32(at):
        return T.IntegerType(), {"type": "time32", "unit": at.unit}
    if pa.types.is_time64(at):
        return T.LongType(), {"type": "time64", "unit": at.unit}
    if pa.types.is_decimal(at):
        return T.DecimalType(at.precision, at.scale), {}
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        child, child_meta = arrow_to_spark_type(at.value_type)
        if child_meta:
            meta = {"type": "list", "child": child_meta}
        return T.ArrayType(child, containsNull=True), meta
    if pa.types.is_fixed_size_list(at):
        child, _ = arrow_to_spark_type(at.value_type)
        return T.ArrayType(child, containsNull=True), {
            "type": "fixed_size_list",
            "list_size": at.list_size,
        }
    if pa.types.is_struct(at):
        fields = []
        for i in range(at.num_fields):
            f = at.field(i)
            st, fmeta = arrow_to_spark_type(f.type)
            fields.append(
                T.StructField(f.name, st, nullable=f.nullable, metadata={ARROW_META_KEY: fmeta} if fmeta else {})
            )
        return T.StructType(fields), {}
    if pa.types.is_map(at):
        kt, _ = arrow_to_spark_type(at.key_type)
        vt, _ = arrow_to_spark_type(at.item_type)
        return T.MapType(kt, vt, valueContainsNull=True), {}
    if pa.types.is_dictionary(at):
        # dictionary is an encoding, not a logical type (SURVEY §1.2):
        # decode to value type; expose dictionary_encode as an operation
        dense, meta = arrow_to_spark_type(at.value_type)
        meta = dict(meta, dictionary_indices=str(at.index_type))
        return dense, meta
    if pa.types.is_union(at):
        # no Spark union: tagged-struct convention {tag, f0, f1, ...};
        # child names/metas/type-codes recorded so the inverse mapping can
        # rebuild the exact union type
        fields = [T.StructField("tag", T.ByteType(), False)]
        child_metas = []
        for i in range(at.num_fields):
            f = at.field(i)
            st, fmeta = arrow_to_spark_type(f.type)
            fields.append(
                T.StructField(
                    f"f{i}", st, True, metadata={ARROW_META_KEY: fmeta} if fmeta else {}
                )
            )
            child_metas.append({"name": f.name, "meta": fmeta})
        return T.StructType(fields), {
            "type": "union",
            "mode": at.mode,
            "children": child_metas,
            "type_codes": [int(c) for c in at.type_codes],
        }
    raise NotImplementedError(f"no Spark mapping for arrow type {at}")


def arrow_to_spark_schema(schema: pa.Schema) -> T.StructType:
    """Full-schema mapping; lossy originals recorded in field metadata."""
    fields = []
    for f in schema:
        st, meta = arrow_to_spark_type(f.type)
        fields.append(
            T.StructField(
                f.name,
                st,
                nullable=f.nullable,
                metadata={ARROW_META_KEY: meta} if meta else {},
            )
        )
    return T.StructType(fields)


def spark_to_arrow_type(st: T.DataType, meta: dict | None = None) -> pa.DataType:
    """Inverse mapping; uses recorded metadata to restore the exact original
    (uint widths, time units, timestamp tz/unit, fixed widths)."""
    meta = meta or {}
    orig = meta.get("type")
    if orig:
        table = {
            "uint8": pa.uint8(), "uint16": pa.uint16(), "uint32": pa.uint32(),
            "uint64": pa.uint64(), "halffloat": pa.float16(), "date64[ms]": pa.date64(),
        }
        if orig in table:
            return table[orig]
        if orig == "fixed_size_binary":
            return pa.binary(meta["byte_width"])
        if orig == "timestamp":
            return pa.timestamp(meta["unit"], tz=meta.get("tz"))
        if orig == "time32":
            return pa.time32(meta["unit"])
        if orig == "time64":
            return pa.time64(meta["unit"])
        if orig == "union" and isinstance(st, T.StructType):
            children = []
            for i, cm in enumerate(meta.get("children", [])):
                f = st.fields[i + 1]  # slot 0 is the tag column
                children.append(
                    pa.field(
                        cm.get("name", f.name),
                        spark_to_arrow_type(f.dataType, cm.get("meta") or None),
                    )
                )
            codes = [int(c) for c in meta.get("type_codes", range(len(children)))]
            if meta.get("mode") == "dense":
                return pa.dense_union(children, codes)
            return pa.sparse_union(children, codes)
    if isinstance(st, T.NullType):
        return pa.null()
    if isinstance(st, T.BooleanType):
        return pa.bool_()
    if isinstance(st, T.ByteType):
        return pa.int8()
    if isinstance(st, T.ShortType):
        return pa.int16()
    if isinstance(st, T.IntegerType):
        return pa.int32()
    if isinstance(st, T.LongType):
        return pa.int64()
    if isinstance(st, T.FloatType):
        return pa.float32()
    if isinstance(st, T.DoubleType):
        return pa.float64()
    if isinstance(st, T.StringType):
        return pa.string()
    if isinstance(st, T.BinaryType):
        return pa.binary()
    if isinstance(st, T.DateType):
        return pa.date32()
    if isinstance(st, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(st, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(st, T.DecimalType):
        return pa.decimal128(st.precision, st.scale)
    if isinstance(st, T.ArrayType):
        return pa.list_(spark_to_arrow_type(st.elementType, meta.get("child")))
    if isinstance(st, T.StructType):
        return pa.struct(
            [
                pa.field(
                    f.name,
                    spark_to_arrow_type(f.dataType, (f.metadata or {}).get(ARROW_META_KEY)),
                    nullable=f.nullable,
                )
                for f in st.fields
            ]
        )
    if isinstance(st, T.MapType):
        return pa.map_(spark_to_arrow_type(st.keyType), spark_to_arrow_type(st.valueType))
    raise NotImplementedError(f"no arrow mapping for spark type {st}")


def roundtrip_lossless(at: pa.DataType) -> bool:
    """True when arrow->spark->arrow returns the identical type."""
    st, meta = arrow_to_spark_type(at)
    try:
        return spark_to_arrow_type(st, meta) == at
    except NotImplementedError:
        return False
