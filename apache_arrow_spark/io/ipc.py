"""Arrow IPC stream/file source + sink (SURVEY §2.1/§2.9).

The reference wire formats (format/IPC.md:22-95):
- *stream* (``.arrows``): Schema message, then Dictionary/RecordBatch
  messages, length-prefixed flatbuffers (writer.h:89 / reader.h:54).
- *file* (``.arrow``): stream + magic + footer block index for random
  access by batch (writer.h:127, reader.cc:563, format/File.fbs:26-40).

Spark-first design: a directory of IPC shards is the distributed dataset
(same model as parquet part-files), and the bulk traffic stays columnar
end to end.

- The sink ships the Arrow record-batch messages Spark already encodes in
  the JVM (``Dataset.toArrowBatchRdd``, the batches behind
  ``DataFrame.toArrow``) to one Python task per partition.  The task
  decodes each message zero-copy against the schema derived the way
  ``toArrow`` derives it, and writes its partition as one shard — no
  row-to-Arrow re-encode in a Python UDF, nothing through the driver.
  Where that JVM handle is unavailable (Spark Connect has no ``_jdf``),
  the same shard writer runs under ``mapInArrow`` instead, and the
  fallback is logged once per process.
- The source plans one task per group of shards straight off
  ``spark.range`` — task *i* opens ``files[i]`` — so no exchange runs
  ahead of the read; each task memory-maps whole shards with pyarrow.

Single-file mode exists for interop with external tools expecting one
``.arrows`` file — driver-side by necessity, documented small-data-only.

Shared-filesystem contract: like parquet part-files, ``path`` must be
storage every node sees (NFS/HDFS/S3-fuse or local disk on local[N]).
The sink writes shards from executors and the source lists them with a
driver-local glob, so a multi-node cluster with node-local paths would
write shards the driver cannot list and list shards other nodes cannot
open.  (A Hadoop-FS-API listing would relax the driver-side glob but not
the executor-side open — shared storage is the real requirement, same as
every distributed file sink.)
"""

from __future__ import annotations

from collections.abc import Sequence

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from apache_arrow_spark.io.datasource import _read_shard_table, _shard_schema, _shards
from apache_arrow_spark.log import warn_once


def _arrow_schema(df: DataFrame):
    """The Arrow schema ``DataFrame.toArrow`` gives ``df``: the schema the
    JVM-encoded batches decode with, and the one every shard carries."""
    from pyspark.sql.pandas.types import to_arrow_schema

    large = df.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes")
    return to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=large.lower() == "true",
    )


def _jvm_arrow_batches(df: DataFrame):
    """The partitions of ``df`` as the Arrow IPC record-batch messages
    Spark encodes in the JVM, one ``bytes`` per batch.  Raises where the
    session has no JVM handle, e.g. on Spark Connect."""
    from pyspark.core.rdd import RDD
    from pyspark.serializers import NoOpSerializer

    jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    return RDD(jrdd, df.sparkSession.sparkContext, NoOpSerializer())


def write_ipc(
    df: DataFrame,
    path: str,
    format: str = "stream",
    dictionary_encode: Sequence[str] = (),
    num_shards: int | None = None,
    shard_cols: Sequence[str] = (),
) -> int:
    """Distributed IPC sink: one shard per non-empty partition under
    ``path``/.

    Returns the number of shards written.  ``format``: 'stream' (.arrows,
    RecordBatchStreamWriter parity) or 'file' (.arrow, RecordBatchFileWriter
    parity — carries the random-access footer).  ``dictionary_encode``
    names columns to write dictionary-encoded: the writer then emits
    DictionaryBatch messages before the RecordBatches — including deltas as
    new values appear across batches — exactly the reference's wire
    behavior (format/Message.fbs isDelta; ipc/writer.cc DictionaryMemo).

    ``num_shards`` repartitions to that many output shards; ``shard_cols``
    (only meaningful together with ``num_shards``) hash-partitions by the
    named columns instead of the keyless round-robin, which skips the
    ``sortBeforeRepartition`` local sort of every row.  Caveat: the shard
    key must be high-cardinality and unskewed — a low-cardinality or
    skewed key yields fewer non-empty shards than requested (worst case
    one), reintroducing the serialized write/read ``num_shards`` exists to
    avoid.  Passing ``shard_cols`` without ``num_shards`` is a usage bug
    and warns.
    """
    assert format in ("stream", "file")
    if shard_cols and not num_shards:
        import warnings

        warnings.warn(
            "write_ipc: shard_cols is ignored unless num_shards is set",
            stacklevel=2,
        )
    if num_shards:
        # shard-count control: a degenerate upstream partitioning (e.g. a
        # single-row-group parquet file locally) would otherwise serialize
        # the write AND the eventual read of the shard directory.
        # ``shard_cols`` shards by hash of the named columns — a keyless
        # round-robin repartition first pays a full local sort of every
        # row (spark.sql.execution.sortBeforeRepartition, needed for
        # deterministic retries) which is pure overhead for a shard sink;
        # hashing a key column is deterministic without the sort.
        if shard_cols:
            import pyspark.sql.functions as F

            df = df.repartition(num_shards, *[F.col(c) for c in shard_cols])
        else:
            df = df.repartition(num_shards)
    os.makedirs(path, exist_ok=True)
    ext = "arrows" if format == "stream" else "arrow"
    run_id = uuid.uuid4().hex[:8]
    dict_cols = list(dictionary_encode)

    def _write_shard(pid, batches):
        """Write one partition's batches as one shard; yield its
        ``(path, rows)``, path None when the partition held no rows."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.ipc as ipc

        out = os.path.join(path, f"part-{pid:05d}-{run_id}.{ext}")
        writer = None
        rows = 0
        opts = ipc.IpcWriteOptions(emit_dictionary_deltas=True)
        for batch in batches:
            if not batch.num_rows:
                continue
            if dict_cols:
                arrays = [
                    pc.dictionary_encode(batch.column(name))
                    if name in dict_cols
                    else batch.column(name)
                    for name in batch.schema.names
                ]
                batch = pa.RecordBatch.from_arrays(arrays, names=batch.schema.names)
            if writer is None:
                sink = pa.OSFile(out, "wb")
                writer = (
                    ipc.new_stream(sink, batch.schema, options=opts)
                    if format == "stream"
                    else ipc.new_file(sink, batch.schema, options=opts)
                )
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is not None:
            writer.close()
        yield (out if writer is not None else None), rows

    schema = _arrow_schema(df)
    try:
        rdd = _jvm_arrow_batches(df)
    except Exception as exc:
        warn_once(
            "io.ipc.write_ipc",
            "write_ipc: JVM Arrow batches unavailable (%s: %s); "
            "writing shards through mapInArrow instead",
            type(exc).__name__,
            exc,
        )
        manifest = _write_via_map_in_arrow(df, _write_shard, schema)
    else:

        def _from_jvm(pid, messages):
            import pyarrow as pa

            return _write_shard(
                pid, (pa.ipc.read_record_batch(pa.py_buffer(m), schema) for m in messages)
            )

        manifest = rdd.mapPartitionsWithIndex(_from_jvm).collect()
    return sum(1 for out, _rows in manifest if out is not None)


def _write_via_map_in_arrow(df: DataFrame, write_shard, schema) -> list[tuple]:
    """The sink's fallback: ``write_shard`` runs inside ``mapInArrow``.
    Batches are cast to ``schema`` (mapInArrow labels timestamps with the
    session time zone, ``toArrow`` with UTC), so both paths write the
    same shard schema."""

    def _write(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        cast = (b if b.schema == schema else b.cast(schema) for b in batches)
        for out, rows in write_shard(TaskContext.get().partitionId(), cast):
            yield pa.RecordBatch.from_pydict({"path": [out], "rows": [rows]})

    rows = df.mapInArrow(_write, "path string, rows bigint").collect()
    return [(r["path"], r["rows"]) for r in rows]


def read_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed IPC source: schema from the first shard's metadata
    (driver, cheap), then whole-shard reads in tasks planned straight off
    ``spark.range`` over the file indices — no exchange ahead of the read.

    ``path`` is a shard directory, a glob pattern, or one IPC file.
    Handles both wire formats and dictionary-encoded columns (dictionaries
    are decoded to dense — the Spark representation; SURVEY §1.2 DICTIONARY).
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    files = _shards(path)
    spark_schema = from_arrow_schema(_shard_schema(files[0]), prefer_timestamp_ntz=True)

    def _read(batches):
        for b in batches:
            for i in b.column("id").to_pylist():
                yield from _read_shard_table(files[i]).to_batches()

    n = min(len(files), spark.sparkContext.defaultParallelism)
    return spark.range(len(files), numPartitions=n).mapInArrow(_read, spark_schema)


def write_ipc_single(df: DataFrame, path: str, format: str = "stream") -> None:
    """One-file writer for interop (RecordBatchStream/FileWriter on the
    collected table).  Driver-side — small results only."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    table = df.toArrow()
    with pa.OSFile(path, "wb") as sink:
        writer = (
            ipc.new_stream(sink, table.schema)
            if format == "stream"
            else ipc.new_file(sink, table.schema)
        )
        writer.write_table(table)
        writer.close()
