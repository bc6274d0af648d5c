package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.execution.datasources.parquet.{ParquetUtils,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** VECTORIZED (columnar-batch) read path for [[MemCatalog]]'s
  * file-backed data plane — the same class Spark's own parquet scans
  * decode through (`VectorizedParquetRecordReader`), driven directly
  * against one data file or one row-group byte range of it.
  *
  * Why it exists: [[ParquetRowIO.RowFileIterator]] decodes
  * record-at-a-time through parquet-mr's assembly layer, while the
  * columnar decoder batches page decoding into column vectors that
  * Spark's `ColumnarToRow` + whole-stage codegen consume an order of
  * magnitude cheaper than one-row-per-call reader handoff.
  *
  * It serves every catalog read whose schema it supports
  * ([[supportsBatch]]) over a snapshot holding at least one data file:
  * scans (eligibility is decided by the SCAN, all-or-nothing across
  * its splits — Spark's DSv2 contract forbids mixing columnar and
  * row-based partitions in one scan) and the commit-time reads of
  * [[Snap]]. Overlays ride a selection vector over the decoded batch
  * ([[ColumnarSelect]]): position deletes and exact pushed filters drop
  * rows, UPDATE patch rows are served in place, heap insert tails are
  * copied into batches, and `__pos` is a computed vector. The row
  * decoder stays for rejected schemas, metadata-served scans, streaming
  * micro-batches and snapshots with no data file.
  *
  * Column-mapping (rename/drop-readd by field id) rides the SAME
  * per-file requested-name translation the row path uses
  * ([[ParquetRowIO.resolveById]]); files that predate an ADD COLUMN
  * serve the missing column as an all-NULL vector — the vectorized
  * reader's own missing-column handling, which is exactly Spark's
  * lakehouse read-path semantics.
  */
private[sources] object ParquetBatchIO {

  /** Rows per ColumnarBatch — Spark's own default
    * (`spark.sql.parquet.columnarReaderBatchSize`). */
  private[sources] val Capacity: Int = 4096

  // a defaults-SQLConf with nested vectors ON: the check must agree
  // with the hadoop-conf flag the reader instances run under, not
  // with whatever session happens to be current on this thread
  private lazy val checkConf: SQLConf = {
    val c = new SQLConf
    c.setConfString(
      SQLConf.PARQUET_VECTORIZED_READER_NESTED_COLUMN_ENABLED.key, "true")
    c
  }

  /** Can this read schema decode through the vectorized reader?
    * Spark's own eligibility check (`ParquetUtils`), with nested
    * column vectors enabled (array-of-float embedding scans are a
    * primary catalog workload), limited to the types patch rows and
    * heap slices can be copied into ([[ColumnarSelect.writable]]). */
  def supportsBatch(schema: StructType): Boolean =
    try ParquetUtils.isBatchReadSupportedForSchema(checkConf, schema) &&
      schema.fields.forall(f => ColumnarSelect.writable(f.dataType))
    catch { case _: Throwable => false }

  private def batchReadConf(requested: StructType): Configuration = {
    val conf = ParquetRowIO.readConf(requested)
    conf.set(
      SQLConf.PARQUET_VECTORIZED_READER_NESTED_COLUMN_ENABLED.key, "true")
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport].getName)
    conf
  }

  /** Reader over one data file (or one row-group byte range of it) at
    * `requested`, yielding reused [[ColumnarBatch]]es — each batch is
    * valid only until the next [[nextBatch]] call, the contract
    * Spark's scan pipeline already holds.
    *
    * `filters` (when non-empty) ride the hadoop conf into the reader
    * for row-group + column-index (page-grain) skipping INSIDE the
    * split — the vectorized reader's `readNextFilteredRowGroup` path.
    * ONLY sound when the caller's physical positions don't matter
    * (no delete or patch overlay on this range, no `__pos`, no
    * row-grain sample): pages silently drop, so
    * positions shift. Batches remain a SUPERSET of matching rows
    * (page grain) — the caller's own evaluation stays authoritative. */
  final class BatchFileReader(pathStr: String, requested: StructType,
      range: Option[(Long, Long)],
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      extends ColumnarSelect.BatchSource {
    // per-file field-id -> name translation, same as the row path
    private val effective = ParquetRowIO.resolveById(pathStr, requested)
    private val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, Capacity)
    private val predicate =
      if (filters.isEmpty) None
      else ParquetFilterBridge.buildPredicate(requested,
        requested.fieldNames.zip(effective.fieldNames).toMap,
        ParquetRowIO.fileColumns(pathStr),
        ParquetRowIO.filePrimTypes(pathStr), filters)
    override val engaged: Boolean = predicate.isDefined
    locally {
      val conf = batchReadConf(effective)
      predicate.foreach(p => org.apache.parquet.hadoop.ParquetInputFormat
        .setFilterPredicate(conf, p))
      val (start, len) = range match {
        case Some((s, e)) => (s, e - s)
        case None => (0L, Long.MaxValue)
      }
      // Spark's reader casts to the OLD mapred FileSplit shape
      val split = new org.apache.hadoop.mapred.FileSplit(
        new org.apache.hadoop.fs.Path(pathStr), start, len,
        Array.empty[String])
      val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
      try {
        reader.initialize(split, ctx)
        // no partition-appended columns: the catalog's partition
        // values live in the data columns themselves
        reader.initBatch(new StructType(), InternalRow.empty)
        reader.enableReturningBatches()
      } catch { case t: Throwable => reader.close(); throw t }
    }

    override def nextBatch(): ColumnarBatch =
      if (!reader.nextKeyValue()) null
      else reader.getCurrentValue.asInstanceOf[ColumnarBatch]

    override def close(): Unit = reader.close()
  }

  def open(path: String, requested: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : BatchFileReader =
    new BatchFileReader(path, requested, None, filters)

  def open(path: String, requested: StructType,
      startByte: Long, endByte: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : BatchFileReader =
    new BatchFileReader(path, requested, Some((startByte, endByte)), filters)
}
