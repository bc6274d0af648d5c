package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Executor-side parquet codec for [[MemCatalog]]'s FILE-BACKED data
  * plane: plain `InternalRow` in, standard parquet files out (and
  * back), with NO SparkSession in sight — a write task streams its
  * rows straight into a data file, a scan task streams them back, so
  * the table's data never has to exist as one in-heap array anywhere.
  *
  * Built on Spark's own parquet support classes
  * (`ParquetWriteSupport` / `ParquetReadSupport`, the row-based codec
  * `spark.read.parquet` itself uses under the hood), driven directly
  * through parquet-mr. That buys, for free, the exact on-disk
  * dialect of every other Spark parquet file: the files are readable
  * by any engine (DuckDB replays them in the oracle), a PRUNED read
  * schema materializes only the requested columns, and a requested
  * column missing from an old file (written before an ADD COLUMN)
  * reads as NULL — the lakehouse schema-evolution read path, straight
  * from the format.
  */
private[sources] object ParquetRowIO {

  /** Hadoop conf for the write side. `ParquetWriteSupport` reads its
    * session flags from the conf with NO defaults, so every key it
    * touches is pinned here (values = Spark's defaults, with rebase
    * modes CORRECTED — we never write legacy calendars). */
  /** Local paths go through RawLocalFileSystem: the default
    * (checksummed) local FS writes a hidden `.<name>.crc` sidecar per
    * data file, which pollutes the table's data dir with files the
    * commit log never referenced (and the expiry vacuum would
    * churn). Object-store schemes (the cluster deployment) are
    * unaffected — they never checksum client-side. */
  private def noCrc(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    // the JVM-wide FileSystem cache already holds the checksummed
    // local FS (Spark resolved it first) and ignores fs.file.impl on
    // a cache hit — bypass it for these confs
    conf.set("fs.file.impl.disable.cache", "true")
    conf
  }

  private def writeConf(schema: StructType): Configuration = {
    val conf = noCrc(new Configuration(false))
    ParquetWriteSupport.setSchema(schema, conf)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).foreach(e =>
      conf.set(e.key, e.defaultValueString))
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf
  }

  private[sources] def readConf(requested: StructType): Configuration = {
    val conf = noCrc(new Configuration(false))
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e =>
      conf.set(e.key, e.defaultValueString))
    conf
  }

  // ---- COLUMN MAPPING: id-based read resolution --------------------
  // Spark's row converter takes its field-id flag from the
  // thread-local SQLConf (absent in this sessionless codec), so the
  // id matching happens HERE instead: requested field names are
  // translated to the FILE's names by footer field id before the
  // parquet-layer (name-based) clip runs. A file written before a
  // RENAME then serves the renamed column; a requested id absent
  // from the file maps to a sentinel name so it can never
  // name-collide into a DIFFERENT column (it reads NULL — the
  // dropped-then-readded case). Output rows are positional in the
  // requested order, so consumers never see the translated names.

  /** field id -> column name of one data file's footer (cached with
    * the rest of the footer — files are immutable). Empty for
    * pre-mapping files. */
  private def fileIdMap(path: String): Map[Long, String] =
    footerInfo(path).idNames

  private[sources] def resolveById(path: String,
      requested: StructType): StructType = {
    import org.apache.spark.sql.types.StructField
    def idOf(f: StructField): Option[Long] =
      if (f.metadata.contains("parquet.field.id"))
        Some(f.metadata.getLong("parquet.field.id"))
      else None
    if (!requested.fields.exists(f => idOf(f).isDefined)) requested
    else {
      val byId = fileIdMap(path)
      if (byId.isEmpty) requested // pre-mapping file: match by name
      else StructType(requested.fields.map { f =>
        idOf(f) match {
          case Some(id) => byId.get(id) match {
            case Some(n) => if (n == f.name) f else f.copy(name = n)
            case None => f.copy(name = s"__graft_absent_$id")
          }
          case None => f
        }
      })
    }
  }

  private final class RowBuilder(path: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Streaming writer for one data file. Rows may carry a historical
    * PREFIX arity (pre-ADD-COLUMN); they are padded to `schema` with
    * NULLs before hitting the encoder, so one file always has one
    * arity (the same padding reads apply). Single-threaded, like a
    * write task. */
  final class RowFileWriter(pathStr: String, schema: StructType) {
    private val writer = new RowBuilder(new org.apache.hadoop.fs.Path(pathStr))
      .withConf(writeConf(schema))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      // row-group size bounds the unit of read parallelism: a single
      // huge task file still scans as one split per group (prop for
      // test tuning; default = parquet's 128 MB)
      .withRowGroupSize(
        sys.props.getOrElse("graft.catalog.rowgroup.bytes",
          (128L * 1024 * 1024).toString).toLong)
      .build()
    private var n = 0L
    def write(r: InternalRow): Unit = {
      writer.write(pad(r))
      n += 1
    }
    private def pad(r: InternalRow): InternalRow =
      if (r.numFields == schema.length) r
      else {
        require(r.numFields < schema.length,
          s"row arity ${r.numFields} exceeds schema ${schema.length}")
        val vals = new Array[Any](schema.length)
        var j = 0
        while (j < r.numFields) {
          vals(j) = if (r.isNullAt(j)) null else r.get(j, schema(j).dataType)
          j += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
    /** Close and return the row count. */
    def close(): Long = { writer.close(); n }
  }

  /** Iterator over one data file at `requested` (any subset of the
    * table schema, in any order; columns the file predates read NULL).
    *
    * Rows are VOLATILE — each is a reused `UnsafeRow` buffer valid
    * only until the next `next()` (the same contract Spark's own
    * parquet row reader hands its scan pipeline). A consumer that
    * RETAINS a row past the next step must `.copy()` it (UnsafeRow
    * copies are deep, so retained strings can't alias the buffer).
    * Closes itself on exhaustion; call `close()` for early exit. */
  final class RowFileIterator(pathStr: String, requested: StructType,
      range: Option[(Long, Long)],
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      extends Iterator[InternalRow]
      with AutoCloseable {
    // id-based name translation (column mapping) happens before the
    // parquet-layer name clip; rows stay positional in `requested`
    private val effective = resolveById(pathStr, requested)
    private val filter =
      if (filters.isEmpty) None
      else ParquetFilterBridge.build(requested,
        requested.fieldNames.zip(effective.fieldNames).toMap,
        fileColumns(pathStr), filePrimTypes(pathStr), filters)
    /** Whether the pushed filters reached parquet-mr. */
    val engaged: Boolean = filter.isDefined
    private val reader: ParquetReader[InternalRow] = {
      // built on the reader's own conf: the (ReadSupport, Path) builder
      // starts from a default Configuration and parses Hadoop's default
      // XML resources on every open
      val conf = readConf(effective)
      val b0 = new ParquetReader.Builder[InternalRow](inputFile(pathStr, conf),
          new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
        override protected def getReadSupport()
            : org.apache.parquet.hadoop.api.ReadSupport[InternalRow] =
          new ParquetReadSupport()
      }
      // PUSHED FILTERS inside the file: row-group stats, dictionary,
      // page-index, and record-level skipping all engage under this
      // one handoff. ONLY sound when the caller's positions don't
      // matter (no `__pos`, no delete/patch overlay on this range) —
      // parquet silently drops rows, so physical positions shift.
      // The translation is a sound superset; the caller's residual
      // evaluation stays authoritative.
      val b1 = filter.fold(b0)(b0.withFilter)
      range.fold(b1) { case (s, e) => b1.withFileRange(s, e) }.build()
    }
    private val proj = UnsafeProjection.create(effective)
    private var nextRow: InternalRow = _
    private var closed = false
    private def advance(): Unit = {
      nextRow = if (closed) null else reader.read()
      if (nextRow == null) close()
    }
    advance()
    override def hasNext: Boolean = nextRow != null
    override def next(): InternalRow = {
      val r = proj(nextRow)
      advance()
      r
    }
    override def close(): Unit =
      if (!closed) { closed = true; reader.close() }
  }

  def writer(path: String, schema: StructType): RowFileWriter =
    new RowFileWriter(path, schema)

  /** Open with pushed filters handed to parquet-mr (see
    * [[RowFileIterator]] — positions must not matter to the caller). */
  def open(path: String, requested: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): RowFileIterator =
    new RowFileIterator(path, requested, None, filters)

  /** Open only the ROW GROUPS whose byte midpoint falls in
    * [startByte, endByte) — the parquet-mr range filter Spark's own
    * file splits use. One [[blocks]] entry's range selects exactly
    * that row group. */
  def open(path: String, requested: StructType,
      startByte: Long, endByte: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : RowFileIterator =
    new RowFileIterator(path, requested, Some((startByte, endByte)), filters)

  /** One row group's (startByte, endByte, rowCount) plus its column
    * statistics keyed by FILE footer column name — exact values
    * parquet-mr recorded at write time, converted to Catalyst
    * internal form by physical type (INT32 -> Int, INT64 -> Long,
    * UTF8 BINARY -> UTF8String). Columns whose null count the footer
    * doesn't state are OMITTED (pruning must never claim nulls=0 it
    * can't prove). */
  final case class Block(startByte: Long, endByte: Long, rows: Long,
      cols: Map[String, ColStats] = Map.empty)

  private final case class FooterInfo(blocks: Vector[Block],
      columns: Set[String],
      primTypes: Map[String, org.apache.parquet.schema.PrimitiveType],
      idNames: Map[Long, String])

  // BOUNDED footer cache: keyed by absolute file path, so vacuumed /
  // overwritten / renamed-table files would otherwise pin entries
  // forever in a long-lived session with churny tables. LRU-bounded —
  // entries are cheap to rebuild from the footer on a miss. One entry
  // per file serves the row-group layout, column names, physical types
  // and field ids, so each footer is read once.
  private val FooterCacheMax = 4096
  private val footerCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, FooterInfo](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, FooterInfo]): Boolean =
        size() > FooterCacheMax
    })

  private def footerInfo(path: String): FooterInfo = {
    val hit = footerCache.get(path)
    if (hit != null) hit
    else {
      val fi = loadFooter(path)
      footerCache.put(path, fi)
      fi
    }
  }

  private def inputFile(path: String, conf: Configuration)
      : org.apache.parquet.io.InputFile =
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)

  private def loadFooter(path: String): FooterInfo = {
    val conf = noCrc(new Configuration(false))
    // read options from this conf: the one-argument open builds a
    // default Configuration (and parses its XML) per call
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      inputFile(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try {
      import scala.jdk.CollectionConverters._
      val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
      val cols = fields.iterator.map(_.getName).toSet
      val prims = fields.iterator.filter(_.isPrimitive).map(f =>
        f.getName -> f.asPrimitiveType()).toMap
      val ids = fields.iterator.filter(_.getId != null)
        .map(f => f.getId.intValue().toLong -> f.getName).toMap
      val bs = r.getFooter.getBlocks.asScala.iterator.map { b =>
        val st = b.getColumns.asScala.iterator.flatMap { c =>
          chunkStats(c).map(c.getPath.toDotString -> _)
        }.toMap
        Block(b.getStartingPos, b.getStartingPos + b.getCompressedSize,
          b.getRowCount, st)
      }.toVector
      FooterInfo(bs, cols, prims, ids)
    } finally r.close()
  }

  /** Exact per-chunk statistics -> [[ColStats]] in internal form;
    * None when the footer doesn't state a null count (nothing can be
    * proven) or the chunk has no statistics at all. */
  private def chunkStats(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[ColStats] = {
    val st = c.getStatistics
    if (st == null || !st.isNumNullsSet) return None
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val prim = c.getPrimitiveType
    def mm(f: Any => Any): (Option[Any], Option[Any]) =
      if (!st.hasNonNullValue) (None, None)
      else (Some(f(st.genericGetMin())), Some(f(st.genericGetMax())))
    val (tracked, minMax) = prim.getPrimitiveTypeName match {
      case INT32 => (true, mm(identity))
      case INT64 =>
        // an int64 TIMESTAMP is only comparable to Catalyst micros
        // when its unit IS micros (MILLIS/NANOS stats would compare
        // in the wrong scale)
        val ok = prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => true
        }
        (ok, if (ok) mm(identity) else (None, None))
      case BINARY
        if prim.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        (true, mm(v =>
          org.apache.spark.unsafe.types.UTF8String.fromBytes(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)))
      case _ => (false, (None, None)) // float/double/bool/etc: nulls only
    }
    Some(ColStats(st.getNumNulls, tracked && minMax._1.isDefined,
      minMax._1, minMax._2))
  }

  /** Top-level column names of a data file's footer (cached). */
  private[sources] def fileColumns(path: String): Set[String] =
    footerInfo(path).columns

  /** Physical (primitive) type per top-level column of a data file —
    * filter translation must match it exactly (an INT96 legacy
    * timestamp cannot take an int64 predicate; an int64 MILLIS
    * timestamp compares in the wrong scale). */
  private[sources] def filePrimTypes(path: String)
      : Map[String, org.apache.parquet.schema.PrimitiveType] =
    footerInfo(path).primTypes

  /** Row-group layout of a data file (footer metadata, cached — data
    * files are immutable, so the layout never changes). This is what
    * lets the scan split ONE large file into parallel row-group
    * reads with exact row-position bookkeeping. */
  def blocks(path: String): Vector[Block] = footerInfo(path).blocks

  /** Per-row-group statistics of one file keyed by the TABLE's
    * physical column names (column-mapping translation by field id,
    * Short/Byte coercion to the table type) — the zone-map coin
    * [[MemFilters.contradictsStats]] consumes, so the scan planner
    * can skip WHOLE ROW GROUPS of a surviving file with exact
    * position bookkeeping (each block's row count is known). */
  def blockStats(path: String, data: StructType)
      : Vector[(Block, CommitStats)] = {
    val effective = resolveById(path, data)
    val nameMap = data.fieldNames.zip(effective.fieldNames).toMap
    blocks(path).map { b =>
      val cols = data.fields.iterator.flatMap { f =>
        b.cols.get(nameMap.getOrElse(f.name, f.name)).map { cs =>
          val coerce: Any => Any = f.dataType match {
            case org.apache.spark.sql.types.ShortType =>
              v => Short.box(v.asInstanceOf[java.lang.Integer].shortValue())
            case org.apache.spark.sql.types.ByteType =>
              v => Byte.box(v.asInstanceOf[java.lang.Integer].byteValue())
            case _ => identity
          }
          f.name -> ColStats(cs.nulls,
            cs.tracked && CommitStats.minMaxTracked(f.dataType),
            cs.min.map(coerce), cs.max.map(coerce))
        }
      }.toMap
      (b, CommitStats(b.rows, cols))
    }
  }
}
