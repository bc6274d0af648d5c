package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException,
  NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference,
  Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder,
  DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
  SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 catalog whose tables support DELTA-BASED row-level
  * operations — the `SupportsDelta` contract lakehouse formats
  * (Iceberg position-delete class) implement — so literal ANSI
  * `MERGE INTO` / `UPDATE` / `DELETE FROM` SQL executes against a
  * registered table through Spark's own `RewriteMergeIntoTable` /
  * `WriteDelta` planning and COMMITS O(delta), not O(table): the scan
  * exposes a `__pos` row-id metadata column, the writer receives only
  * the deleted/updated/inserted rows, and the durable commit file
  * holds exactly that delta. Register with
  * `spark.sql.catalog.<name> = graft.sources.MemCatalog`.
  *
  * DURABLE catalogs (the `path` option) run a FILE-BACKED data plane:
  * every bulk write streams its rows into immutable parquet data
  * files directly from the write tasks, the commit log records FILE
  * REFERENCES (never rows), scans plan one split per data file, and
  * snapshot expiry physically deletes files no retained commit
  * references. Table data therefore never exists as an in-heap row
  * array — the driver and each task hold O(files) metadata plus one
  * streaming row — which is the property that lets the same connector
  * serve a 100 TB table from an object store. Purely in-memory
  * catalogs (no `path`) keep heap segments: a scratch/demo surface
  * with identical semantics. q194 drives the q135 CDC changelog
  * through real `MERGE INTO` text against the same DuckDB oracle,
  * proving a migrating warehouse user can keep their MERGE statements.
  */
class MemCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _

  // ---- FunctionCatalog: the partition-transform functions ----------
  // What lets Spark evaluate a BUCKET transform on the OTHER side of
  // a join: two tables partitioned `bucket(n, k)` report
  // KeyGroupedPartitioning over a TransformExpression that resolves
  // through here, and the join plans with ZERO exchanges (the Iceberg
  // bucket-SPJ case). The bound function IS the write-side hash
  // ([[Partitioning.bucketOf]] — Spark Murmur3, pmod), so key groups
  // agree with the files' recorded tuples by construction.
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name.toLowerCase match {
      case "bucket" => MemCatalog.BucketUnbound
      case other => throw new NoSuchFunctionException(ident)
    }

  private var logRoot: Option[java.nio.file.Path] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    logRoot = Option(options.get("path"))
      .map(p => java.nio.file.Paths.get(p))
  }

  override def name(): String = catalogName

  private def key(ident: Identifier): String =
    catalogName + MemCatalog.KeySep + ident.toString

  /** Per-table durable log directory (identifier sanitized for the
    * fs); None when the catalog runs purely in-memory. */
  private def logDir(ident: Identifier): Option[java.nio.file.Path] =
    logRoot.map(_.resolve(ident.toString.replaceAll("[^A-Za-z0-9._-]", "_")))

  /** The live store: the JVM-cached one, else — durable catalogs only
    * — a replay of the on-disk commit log (the restart path). */
  private def liveStore(ident: Identifier): Option[MemStore] =
    MemCatalog.stores.get(key(ident)).orElse {
      logDir(ident).filter(CommitLog.existsAt).map { dir =>
        // crashed multi-table transactions roll back BEFORE any
        // replay observes a half-published leg (idempotent, O(.txn))
        TableTxn.recover(dir.getParent)
        val replayed = MemStore.replayFrom(CommitLog.open(dir))
        MemCatalog.stores.putIfAbsent(key(ident), replayed)
        MemCatalog.stores(key(ident))
      }
    }

  /** In-memory tables plus — durable catalogs — any on-disk commit
    * log not yet loaded into this JVM, so `SHOW TABLES` is complete
    * straight after a restart. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val live = MemCatalog.stores.keys
      .filter(_.startsWith(catalogName + MemCatalog.KeySep))
      .map(_.split(MemCatalog.KeySep, 2)(1))
    val logged = logRoot.toSeq.flatMap { root =>
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else {
        val stream = java.nio.file.Files.list(root)
        val found = scala.collection.mutable.ArrayBuffer.empty[String]
        try {
          val it = stream.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (CommitLog.existsAt(p)) found += p.getFileName.toString
          }
        } finally stream.close()
        found.toSeq
      }
    }
    (live ++ logged).toSeq.distinct
      .map(n => Identifier.of(Array.empty, n)).toArray
  }

  override def loadTable(ident: Identifier): Table =
    liveStore(ident) match {
      case Some(store) => new MemTable(ident.toString, store)
      // BRANCH HANDLE (the Iceberg `db.table.branch_<name>` identifier
      // convention): a FULL read-write table over the branch's own
      // commit log — writes audit on the branch, `MERGE BRANCH`
      // publishes ([[Branches]])
      case None if ident.namespace.length == 1 &&
          ident.name.startsWith(Branches.Prefix) &&
          logRoot.isDefined =>
        MemCatalog.branchStore(logRoot.get, catalogName,
            ident.namespace.head,
            ident.name.stripPrefix(Branches.Prefix)) match {
          case Some(store) => new MemTable(ident.toString, store)
          case None => throw new NoSuchTableException(ident)
        }
      // METADATA TABLES (the Iceberg `db.table.<meta>` suffix
      // convention): `cat.t.changes` = the Change Data Feed (batch SQL
      // or a streaming source with commit-version offsets);
      // `cat.t.history` = DESCRIBE HISTORY through plain SQL;
      // `cat.t.files` = the live snapshot's data-file inventory
      case None if ident.namespace.length == 1 &&
          MemCatalog.MetaTables.contains(ident.name) =>
        liveStore(Identifier.of(Array.empty, ident.namespace.head)) match {
          case Some(store) if ident.name == "changes" =>
            new ChangesTable(ident.toString, store)
          case Some(store) =>
            new MetaTable(ident.toString, store, ident.name)
          case None => throw new NoSuchTableException(ident)
        }
      case None => throw new NoSuchTableException(ident)
    }

  /** `VERSION AS OF n` time travel: serve the pinned historical
    * snapshot — the v2 connector hook Spark's TimeTravelSpec routes
    * version-qualified reads through. A non-numeric version string is
    * a TAG name (`VERSION AS OF 'prod-2026-08'`, see [[Refs]]). */
  override def loadTable(ident: Identifier, version: String): Table =
    liveStore(ident) match {
      case Some(store) =>
        // tags (and numeric versions) resolve first; an unknown name
        // falls back to a BRANCH head — `VERSION AS OF 'dev'` reads
        // the branch's live state (the Iceberg ref-read convention)
        val v =
          try Some(store.resolveVersion(version))
          catch {
            case e: Exception =>
              if (logRoot.exists(r => MemCatalog.branchStore(r,
                  catalogName, ident.name, version).isDefined)) None
              else throw e
          }
        v match {
          case Some(ver) =>
            val (snap, stats, phys) = store.versionState(ver)
            new MemTable(s"${ident.toString}@v$version", store,
              Some(Pinned(ver, snap, stats, phys)))
          case None =>
            val bs = MemCatalog.branchStore(logRoot.get, catalogName,
              ident.name, version).get
            new MemTable(s"${ident.toString}@$version", bs)
        }
      // time travel ON a branch handle: resolve within the branch's
      // own history (`cat.t.branch_dev VERSION AS OF 3`)
      case None if ident.namespace.length == 1 &&
          ident.name.startsWith(Branches.Prefix) && logRoot.isDefined =>
        MemCatalog.branchStore(logRoot.get, catalogName,
            ident.namespace.head,
            ident.name.stripPrefix(Branches.Prefix)) match {
          case Some(bs) =>
            val ver = bs.resolveVersion(version)
            val (snap, stats, phys) = bs.versionState(ver)
            new MemTable(s"${ident.toString}@v$version", bs,
              Some(Pinned(ver, snap, stats, phys)))
          case None => throw new NoSuchTableException(ident)
        }
      case None => throw new NoSuchTableException(ident)
    }

  /** `TIMESTAMP AS OF t` time travel: Spark hands the resolved
    * timestamp in epoch MICROS; serve the newest snapshot committed
    * at or before it (commit times ride in the snapshot log, so this
    * works across restarts too). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    liveStore(ident) match {
      case Some(store) =>
        val v = store.versionAt(timestamp)
        val (snap, stats, phys) = store.versionState(v)
        new MemTable(s"${ident.toString}@t$timestamp", store,
          Some(Pinned(v, snap, stats, phys)))
      case None => throw new NoSuchTableException(ident)
    }

  /** `PARTITIONED BY` — identity, `days(ts)`, and `bucket(n, col)`
    * transforms (the lakehouse trio). Every data file then carries
    * its partition tuple in the commit metadata, the scan prunes
    * whole files on partition predicates BEFORE consulting stats,
    * and runtime (DPP) filters prune at execution. Partitioning is a
    * property of the durable data plane — an in-memory scratch table
    * has no files to prune, so it requires a `path` catalog. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val spec = partitions.toSeq.map(MemCatalog.toPartTransform)
    if (spec.nonEmpty) {
      require(logRoot.isDefined,
        "partitioned MemCatalog tables need a durable catalog (path option)")
      Partitioning.validate(spec, schema)
    }
    // A leftover durable log for this identifier IS the table (the
    // restart path) — resume its history (and ITS recorded partition
    // spec) rather than shadowing it.
    val store = liveStore(ident).getOrElse {
      val created = MemStore.nowMicros()
      // stable field ids from day one (ColumnMapping): what makes
      // RENAME/DROP COLUMN metadata-only later, and what the parquet
      // footers carry so id-based reads survive renames
      val mapped = ColumnMapping.withIds(schema)
      val fresh = new MemStore(mapped,
        logDir(ident).map(d => CommitLog.create(d, mapped, created, spec)),
        created)
      MemCatalog.stores.putIfAbsent(key(ident), fresh)
      MemCatalog.stores(key(ident))
    }
    new MemTable(ident.toString, store)
  }

  /** `ALTER TABLE ADD / RENAME / DROP COLUMN`. ADD is append-only and
    * nullable (history is not backfilled). RENAME and DROP are
    * METADATA-ONLY through field-id column mapping: the physical
    * schema keeps every slot forever (a dropped column is flagged and
    * tombstone-named, a renamed one changes only its name slot), rows
    * and commit files keep decoding positionally, and data files
    * written under an old name still serve the new one because
    * parquet matches BY FIELD ID. Tables created before mapping (no
    * ids) refuse rename/drop loudly — the protocol-upgrade posture. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val store = liveStore(ident).getOrElse(throw new NoSuchTableException(ident))
    def liveIndex(s: StructType, name: String): Int = {
      val i = s.fields.indexWhere(f =>
        !ColumnMapping.isDropped(f) && f.name == name)
      require(i >= 0, s"column $name not found in ${ident.toString}")
      i
    }
    def requireMapped(s: StructType, what: String): Unit =
      require(ColumnMapping.mapped(s),
        s"$what needs column mapping (field ids); table " +
          s"${ident.toString} predates it — recreate the table")
    val newSchema = changes.foldLeft(store.physSchema) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          "MemCatalog.alterTable: nested ADD COLUMN unsupported")
        require(add.position == null,
          "MemCatalog.alterTable: positioned ADD COLUMN unsupported (append-only)")
        require(add.isNullable,
          "MemCatalog.alterTable: new columns must be nullable (history is not backfilled)")
        val f = org.apache.spark.sql.types.StructField(
          add.fieldNames()(0), add.dataType(), nullable = true)
        s.add(if (ColumnMapping.mapped(s))
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(ColumnMapping.IdKey, ColumnMapping.nextId(s)).build())
        else f)
      case (s, rn: TableChange.RenameColumn) =>
        requireMapped(s, "RENAME COLUMN")
        require(rn.fieldNames.length == 1,
          "MemCatalog.alterTable: nested RENAME unsupported")
        require(!store.checkReferencedCols.contains(rn.fieldNames()(0)),
          s"cannot rename column ${rn.fieldNames()(0)}: referenced by a " +
            "CHECK constraint (drop the constraint first)")
        val i = liveIndex(s, rn.fieldNames()(0))
        require(!s.fields.zipWithIndex.exists { case (f, j) =>
          j != i && !ColumnMapping.isDropped(f) && f.name == rn.newName },
          s"column ${rn.newName} already exists")
        StructType(s.fields.updated(i,
          ColumnMapping.rename(s.fields(i), rn.newName)))
      case (s, del: TableChange.DeleteColumn) =>
        requireMapped(s, "DROP COLUMN")
        require(del.fieldNames.length == 1,
          "MemCatalog.alterTable: nested DROP unsupported")
        val name = del.fieldNames()(0)
        require(!store.partSpec.exists(_.col == name),
          s"cannot drop partition column $name")
        require(!store.checkReferencedCols.contains(name),
          s"cannot drop column $name: referenced by a CHECK constraint " +
            "(drop the constraint first)")
        require({
          val idx0 = s.fields.indexWhere(f =>
            !ColumnMapping.isDropped(f) && f.name == name)
          idx0 < 0 || !ColumnMapping.fieldId(s.fields(idx0))
            .exists(store.constraints.notNullIds.contains)
        }, s"cannot drop column $name: it carries a NOT NULL constraint " +
          "(drop the constraint first)")
        require(ColumnMapping.logical(s).length > 1,
          "cannot drop the last column")
        val i = liveIndex(s, name)
        val f = s.fields(i)
        // tombstone-name the physical slot so a future ADD may reuse
        // the logical name without a physical collision
        val tomb = ColumnMapping.rename(f,
          s"__dropped_${ColumnMapping.fieldId(f).get}_${f.name}")
        StructType(s.fields.updated(i, ColumnMapping.markDropped(tomb)))
      case (_, other) => throw new UnsupportedOperationException(
        s"MemCatalog.alterTable: unsupported change $other")
    }
    store.evolveSchema(newSchema)
    new MemTable(ident.toString, store)
  }

  // ---- ATOMIC CTAS / RTAS (StagingTableCatalog) ----------------------
  // Without staging, Spark's CTAS creates the table THEN writes (a
  // failed query leaves an empty husk) and REPLACE ... AS SELECT drops
  // the old table before the new data exists (a crash window where the
  // table is GONE). Staged: the new table builds in a `.staging/`
  // sibling directory invisible to loadTable/listTables, the CTAS
  // write lands there through the normal write path, and
  // commitStagedChanges PUBLISHES with directory moves — CREATE is one
  // atomic move; REPLACE parks the old directory aside, moves the new
  // one in, then deletes the old, so a crash leaves either the old or
  // the new table, never neither. The staged in-memory store is never
  // cached (its absolute paths reference the staging dir); the first
  // post-publish resolution replays from the final location — commit
  // files record file NAMES, so the move is transparent. Heap
  // (pathless) catalogs stage the store object itself and publish by
  // registry swap.
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, replace = true, orCreate = true)

  private def stage(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo,
      replace: Boolean, orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val spec = info.partitions().toSeq.map(MemCatalog.toPartTransform)
    if (spec.nonEmpty) {
      require(logRoot.isDefined,
        "partitioned MemCatalog tables need a durable catalog (path option)")
      Partitioning.validate(spec, info.schema())
    }
    val exists = liveStore(ident).isDefined
    if (!replace && exists)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    if (replace && !orCreate && !exists)
      throw new NoSuchTableException(ident)
    val mapped = ColumnMapping.withIds(info.schema())
    val created = MemStore.nowMicros()
    logRoot match {
      case Some(root) =>
        val stagingDir = root.resolve(".staging").resolve(
          ident.toString.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
            java.util.UUID.randomUUID().toString.take(8))
        java.nio.file.Files.createDirectories(stagingDir.getParent)
        val store = new MemStore(mapped,
          Some(CommitLog.create(stagingDir, mapped, created, spec)), created)
        new MemStagedTable(new MemTable(ident.toString, store),
          commit = () => {
            val finalDir = logDir(ident).get
            // drop any cached handle BEFORE the swap — a reader races
            // to a replay of whatever directory state it finds
            MemCatalog.stores.remove(key(ident))
            if (CommitLog.existsAt(finalDir)) {
              if (!replace) {
                CommitLog.destroy(stagingDir)
                throw new org.apache.spark.sql.catalyst.analysis
                  .TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
              }
              val parked = finalDir.resolveSibling(
                finalDir.getFileName.toString + ".replaced-" +
                  java.util.UUID.randomUUID().toString.take(8))
              java.nio.file.Files.move(finalDir, parked,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              java.nio.file.Files.move(stagingDir, finalDir,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              CommitLog.destroy(parked)
            } else {
              java.nio.file.Files.move(stagingDir, finalDir,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          },
          abort = () => CommitLog.destroy(stagingDir))
      case None =>
        val store = new MemStore(mapped, None, created)
        new MemStagedTable(new MemTable(ident.toString, store),
          commit = () => {
            if (!replace &&
                MemCatalog.stores.putIfAbsent(key(ident), store).isDefined)
              throw new org.apache.spark.sql.catalyst.analysis
                .TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
            if (replace) MemCatalog.stores.put(key(ident), store)
          },
          abort = () => ())
    }
  }

  /** DROP is RECOVERABLE for durable tables (the Delta UNDROP model):
    * the whole log directory moves into `.trash/<name>-<millis>` (one
    * atomic rename — nothing is destroyed), `UNDROP TABLE` restores
    * the newest entry, and trash entries older than the retention
    * grace (`graft.trash.retention.ms`, default 7 days) purge
    * opportunistically on later drops. `purgeTable` (DROP ... PURGE)
    * destroys immediately, bypassing the trash. Heap tables have no
    * files — drop is forget. */
  override def dropTable(ident: Identifier): Boolean = {
    val hadLog = logDir(ident) match {
      case Some(dir) if CommitLog.existsAt(dir) =>
        val trash = logRoot.get.resolve(".trash")
        java.nio.file.Files.createDirectories(trash)
        val entry =
          trash.resolve(s"${dir.getFileName}-${System.currentTimeMillis}")
        java.nio.file.Files.move(dir, entry,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // the table's BRANCHES travel with it into the trash entry
        // (UNDROP restores them; a RECREATED table must never inherit
        // a dropped incarnation's forks)
        val bc = logRoot.get.resolve(".branches")
          .resolve(ident.name)
        if (java.nio.file.Files.isDirectory(bc)) {
          java.nio.file.Files.move(bc, entry.resolve(".branches"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          MemCatalog.evictBranches(catalogName, ident.name)
        }
        MemCatalog.purgeExpiredTrash(trash)
        true
      case _ => false
    }
    MemCatalog.stores.remove(key(ident)).isDefined || hadLog
  }

  override def purgeTable(ident: Identifier): Boolean = {
    val hadLog = logDir(ident) match {
      case Some(dir) if CommitLog.existsAt(dir) =>
        CommitLog.destroy(dir)
        val bc = logRoot.get.resolve(".branches").resolve(ident.name)
        if (java.nio.file.Files.isDirectory(bc)) {
          CommitLog.destroy(bc)
          MemCatalog.evictBranches(catalogName, ident.name)
        }
        true
      case _ => false
    }
    MemCatalog.stores.remove(key(ident)).isDefined || hadLog
  }

  /** `UNDROP TABLE` — restore the NEWEST trashed incarnation of
    * `ident` (refused when a live table already holds the name). */
  private[sources] def undropTable(ident: Identifier): Unit = {
    val dir = logDir(ident).getOrElse(
      throw new UnsupportedOperationException(
        "UNDROP needs a durable catalog (path option)"))
    require(!CommitLog.existsAt(dir) && liveStore(ident).isEmpty,
      s"cannot UNDROP ${ident.toString}: a live table holds the name")
    val trash = logRoot.get.resolve(".trash")
    val prefix = dir.getFileName.toString + "-"
    val candidates =
      if (!java.nio.file.Files.isDirectory(trash)) Vector.empty
      else {
        val s = java.nio.file.Files.list(trash)
        try {
          val b = Vector.newBuilder[java.nio.file.Path]
          val it = s.iterator()
          while (it.hasNext) {
            val p = it.next()
            val n = p.getFileName.toString
            if (n.startsWith(prefix) &&
                n.drop(prefix.length).forall(_.isDigit)) b += p
          }
          b.result()
        } finally s.close()
      }
    require(candidates.nonEmpty,
      s"no dropped incarnation of ${ident.toString} in the trash " +
        "(already purged, or dropped with PURGE)")
    val newest = candidates.maxBy(
      _.getFileName.toString.drop(prefix.length).toLong)
    java.nio.file.Files.move(newest, dir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // restore the incarnation's branches alongside
    val nested = dir.resolve(".branches")
    if (java.nio.file.Files.isDirectory(nested)) {
      val bc = logRoot.get.resolve(".branches")
      java.nio.file.Files.createDirectories(bc)
      java.nio.file.Files.move(nested, bc.resolve(ident.name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** `ALTER TABLE RENAME TO`: durable tables move their whole log
    * directory (one atomic same-filesystem rename — commits, data
    * files, checkpoints, partition spec all travel together) and the
    * JVM cache drops the old entry, so the next load replays from the
    * new location with freshly-derived file paths; in-memory tables
    * re-key. The rename is invisible to content, history, and time
    * travel. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(MemCatalog.stores.get(key(newIdent)).isEmpty &&
      !logDir(newIdent).exists(CommitLog.existsAt),
      s"renameTable: ${newIdent.toString} already exists")
    val cached = MemCatalog.stores.remove(key(oldIdent))
    (logDir(oldIdent), logDir(newIdent)) match {
      case (Some(from), Some(to)) if CommitLog.existsAt(from) =>
        java.nio.file.Files.move(from, to,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // branches travel with the rename, and their `_clone`
        // provenance re-points at the new name (MERGE BRANCH
        // validates the fork source by name)
        val bcOld = logRoot.get.resolve(".branches")
          .resolve(oldIdent.name)
        if (java.nio.file.Files.isDirectory(bcOld)) {
          val bcNew = logRoot.get.resolve(".branches")
            .resolve(newIdent.name)
          java.nio.file.Files.move(bcOld, bcNew,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          MemCatalog.evictBranches(catalogName, oldIdent.name)
          val s = java.nio.file.Files.list(bcNew)
          try {
            val it = s.iterator()
            while (it.hasNext) {
              val prov = it.next().resolve("_clone")
              if (java.nio.file.Files.exists(prov)) {
                val parts = java.nio.file.Files.readString(prov)
                  .trim.split("\t")
                if (parts.length == 3 && parts(1) == oldIdent.name)
                  java.nio.file.Files.writeString(prov,
                    s"${parts(0)}\t${newIdent.name}\t${parts(2)}")
              }
            }
          } finally s.close()
        }
      case _ =>
        val store = cached.getOrElse(
          throw new NoSuchTableException(oldIdent))
        MemCatalog.stores.putIfAbsent(key(newIdent), store)
    }
  }
}

object MemCatalog {

  /** Translate a Spark connector [[Transform]] into the catalog's
    * partition model — identity / days / bucket only, loudly
    * otherwise. Matching on `name()`/`references()` keeps this
    * independent of the concrete Transform case classes. */
  private[sources] def toPartTransform(
      t: org.apache.spark.sql.connector.expressions.Transform)
      : PartTransform = {
    def oneCol: String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"partition transform $t must reference one top-level column")
      refs(0).fieldNames()(0)
    }
    t.name() match {
      case "identity" => PIdentity(oneCol)
      case "days" => PDays(oneCol)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform $t carries no bucket count"))
        PBucket(n, oneCol)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' (identity/days/bucket)")
    }
  }

  /** JVM-wide store-key separator between catalog name and table
    * identifier: NUL is illegal in both, so the key can never be
    * ambiguous (a space-separated key would collide for identifiers
    * that themselves render with spaces). */
  private[sources] val KeySep = "\u0000"
  /** Metadata-table suffixes [[MemCatalog.loadTable]] resolves. */
  private[sources] val MetaTables =
    Set("changes", "history", "files", "partitions", "refs")

  /** JVM-wide table stores — the catalog plugin is instantiated per
    * session, but local-mode executors and the driver share one JVM. */
  private val stores = TrieMap.empty[String, MemStore]

  /** Drop every in-memory store, simulating a process restart for
    * tests — durable tables must come back via commit-log replay,
    * purely in-memory ones must vanish. */
  private[graft] def simulateRestart(): Unit = stores.clear()

  /** Trash retention: entries older than the grace purge on later
    * drops (default 7 days; tests override the sys prop), and the
    * trash is COUNT-BOUNDED (oldest beyond 64 entries purge
    * regardless) so drop-recreate churn — test harnesses, repeated
    * pipeline staging — can never grow the trash without bound. */
  private[sources] def purgeExpiredTrash(trash: java.nio.file.Path): Unit = {
    val grace = sys.props.get("graft.trash.retention.ms").map(_.toLong)
      .getOrElse(7L * 24 * 3600 * 1000)
    val cutoff = System.currentTimeMillis - grace
    val entries = {
      val s = java.nio.file.Files.list(trash)
      try {
        val b = Vector.newBuilder[(java.nio.file.Path, Long)]
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          val ts = n.lastIndexOf('-') match {
            case i if i > 0 && n.drop(i + 1).forall(_.isDigit) =>
              n.drop(i + 1).toLong
            case _ => Long.MaxValue
          }
          b += ((p, ts))
        }
        b.result()
      } finally s.close()
    }
    val (expired, kept) = entries.partition(_._2 < cutoff)
    expired.foreach(e => CommitLog.destroy(e._1))
    val overflow = kept.sortBy(-_._2).drop(64)
    overflow.foreach(e => CommitLog.destroy(e._1))
  }

  /** The live store of a loaded table (the SQL maintenance commands'
    * lookup — they resolve through the session catalog first, which
    * loads the store after a restart). */
  private[sources] def storeOf(catalogName: String,
      table: String): Option[MemStore] =
    stores.get(catalogName + KeySep + table)

  /** Drop the JVM-cached store so the next resolution replays the
    * durable log — how FAST FORWARD surfaces the published suffix (a
    * stale handle still commits safely: publication is create-new, so
    * it version-conflicts and retries like any cross-process writer). */
  private[sources] def invalidate(catalogName: String, table: String): Unit =
    stores.remove(catalogName + KeySep + table)

  /** Invalidate by ROOT-RELATIVE table directory — the coin the txn
    * manifest speaks: one segment = a plain table, three under
    * `.branches` = a branch store (whose cache key is not its dir
    * name). */
  private[sources] def invalidateByRelDir(catalogName: String,
      rel: java.nio.file.Path): Unit = {
    val segs = (0 until rel.getNameCount).map(rel.getName(_).toString)
    segs match {
      case Seq(t) => invalidate(catalogName, t)
      case Seq(".branches", t, b) => invalidateBranch(catalogName, t, b)
      case _ => ()
    }
  }

  private def requireStore(catalogName: String, table: String): MemStore =
    stores.getOrElse(catalogName + KeySep + table,
      throw new IllegalArgumentException(
        s"$catalogName.$table is not loaded in this JVM"))

  /** Write-time constraints (see [[MemStore]] / [[Constraints]]). */
  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      catalogName: String, table: String, name: String, sql: String): Unit =
    requireStore(catalogName, table).addCheckConstraint(spark, name, sql)
  def dropCheckConstraint(catalogName: String, table: String,
      name: String): Unit =
    requireStore(catalogName, table).dropCheckConstraint(name)
  def setNotNull(spark: org.apache.spark.sql.SparkSession,
      catalogName: String, table: String, col: String,
      enable: Boolean): Unit =
    requireStore(catalogName, table).setNotNull(spark, col, enable)

  /** The v2 `bucket(numBuckets, col)` function — the write-side hash
    * ([[Partitioning.bucketOf]]: Spark Murmur3 seed 42, pmod) exposed
    * through the FunctionCatalog so Spark can evaluate the transform
    * during storage-partitioned-join planning. `canonicalName` is what
    * Spark compares across the two join sides — equal names + equal
    * bucket counts = co-partitioned. */
  private[sources] object BucketUnbound
      extends org.apache.spark.sql.connector.catalog.functions
        .UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, col) - graft catalog partition transform"
    override def bind(inputType: StructType)
        : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.length == 2,
        s"bucket expects (numBuckets, col), got ${inputType.length} args")
      val dt = inputType(1).dataType
      new org.apache.spark.sql.connector.catalog.functions
          .ScalarFunction[Integer] {
        override def inputTypes(): Array[org.apache.spark.sql.types
          .DataType] = Array(inputType(0).dataType, dt)
        override def resultType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.IntegerType
        override def name(): String = "bucket"
        override def canonicalName(): String = "graft.bucket"
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): Integer = {
          if (input.isNullAt(1)) null
          else Int.box(Partitioning.bucketOf(
            input.get(1, dt), dt, input.getInt(0)))
        }
      }
    }
  }

  /** PARTITION-SPEC EVOLUTION (`ALTER TABLE ... SET PARTITIONED BY`):
    * see [[MemStore.evolvePartitionSpec]]. */
  def evolvePartitionSpec(catalogName: String, table: String,
      spec: Seq[PartTransform]): Unit =
    stores.get(catalogName + KeySep + table) match {
      case Some(store) => store.evolvePartitionSpec(spec)
      case None => throw new IllegalArgumentException(
        s"evolvePartitionSpec: $catalogName.$table is not loaded in this JVM")
    }

  /** Default durable-log root the gate surfaces point the catalog's
    * `path` option at (JVM prop override for test isolation). */
  def defaultRoot: String =
    sys.props.getOrElse("graft.catalog.store", "/tmp/graft_catalog")

  // ---- BRANCHES (see [[Branches]]) -----------------------------------

  private def branchKey(cat: String, table: String, branch: String): String =
    cat + KeySep + table + "\u0001branch\u0001" + branch

  /** Load (and cache) a branch's store from its hidden directory. */
  private[sources] def branchStore(root: java.nio.file.Path, cat: String,
      table: String, branch: String): Option[MemStore] = {
    val key = branchKey(cat, table, branch)
    stores.get(key).orElse {
      val dir = Branches.dirOf(root, table, branch)
      if (!CommitLog.existsAt(dir)) None
      else {
        TableTxn.recover(root)
        val replayed = MemStore.replayFrom(CommitLog.open(dir))
        stores.putIfAbsent(key, replayed)
        Some(stores(key))
      }
    }
  }

  private[sources] def invalidateBranch(cat: String, table: String,
      branch: String): Unit =
    stores.remove(branchKey(cat, table, branch))

  /** Evict every cached branch store of one table (the table is being
    * dropped/renamed — the branch directories move with it). */
  private[sources] def evictBranches(cat: String, table: String): Unit = {
    val prefix = branchKey(cat, table, "")
    stores.keys.filter(_.startsWith(prefix)).foreach(stores.remove)
  }

  // ---- MULTI-TABLE TRANSACTIONS (see [[TableTxn]]) -------------------

  private val activeTxns =
    new java.util.concurrent.ConcurrentHashMap[String, TableTxn]()
  private[sources] def registerTxn(t: TableTxn): Unit =
    activeTxns.put(t.id, t)
  private[sources] def unregisterTxn(t: TableTxn): Unit =
    activeTxns.remove(t.id)
  private[sources] def txnFor(id: String): Option[TableTxn] =
    Option(activeTxns.get(id))

  /** The durable root of a named catalog in this session (None for a
    * heap catalog). */
  private[sources] def rootOf(spark: org.apache.spark.sql.SparkSession,
      catalogName: String): Option[java.nio.file.Path] =
    spark.sessionState.catalogManager.catalog(catalogName) match {
      case mc: MemCatalog => mc.logRoot
      case other => throw new IllegalArgumentException(
        s"$catalogName is not a graft catalog: $other")
    }

  /** Run `body` as ONE atomic transaction over several catalog
    * tables: every write inside that passes
    * `.option("graft.txn.id", txn.id)` parks instead of committing,
    * and all participants publish together — or, on failure/crash,
    * none do ([[TableTxn]] write-ahead manifest protocol). */
  def inTransaction[A](spark: org.apache.spark.sql.SparkSession,
      catalogName: String)(body: TableTxn => A): A =
    TableTxn.inTransaction(spark, catalogName)(body)

  /** `DESCRIBE HISTORY`-shaped audit surface (the Delta convention):
    * one row per RETAINED version — (version, commit epoch micros,
    * row count at that version). Reads only in-memory metadata — the
    * per-version row counts are maintained incrementally, no snapshot
    * is materialized; after expiry the pruned prefix is absent. */
  def history(spark: org.apache.spark.sql.SparkSession, catalogName: String,
      table: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    stores.get(catalogName + KeySep + table) match {
      case Some(store) => store.historyRows
        .toDF("version", "commit_micros", "n_rows")
      case None => throw new IllegalArgumentException(
        s"history: $catalogName.$table is not loaded in this JVM")
    }
  }

  /** Snapshot retention (the Iceberg `expire_snapshots` lever): drop
    * every version before `before` for `catalog.table` — the commit
    * log consolidates the oldest retained version into a
    * self-contained commit (naming that version's own files when they
    * carry no row-level overlay, else rewriting its live rows, see
    * [[MemStore.expireBefore]]), deletes the prefix, and PHYSICALLY deletes
    * data files no retained commit references, bounding replay cost
    * AND storage by the retained window. Expired `VERSION AS OF` /
    * `TIMESTAMP AS OF` reads fail loudly afterwards. The table must
    * have been loaded in this JVM (load it once first). */
  def expireSnapshots(catalogName: String, table: String, before: Int): Unit =
    stores.get(catalogName + KeySep + table) match {
      case Some(store) => store.expireBefore(before)
      case None => throw new IllegalArgumentException(
        s"expireSnapshots: $catalogName.$table is not loaded in this JVM")
    }

  /** RESTORE (the Delta `RESTORE TABLE ... VERSION AS OF` rollback):
    * re-commit historical version `v`'s row set as a NEW replace
    * version. History is preserved — the rolled-back states stay
    * readable via time travel, exactly the lakehouse convention (a
    * restore is a forward commit, never a rewind). Stats re-seed from
    * the replace, so metadata-served aggregates stay exact. */
  def restoreSnapshot(catalogName: String, table: String, v: Int): Unit =
    stores.get(catalogName + KeySep + table) match {
      case Some(store) => store.restoreVersion(v)
      case None => throw new IllegalArgumentException(
        s"restoreSnapshot: $catalogName.$table is not loaded in this JVM")
    }

  /** OPTIMIZE (the Delta `OPTIMIZE [ZORDER BY (...)]` verb): rewrite
    * the live snapshot into ~`count/targetFileRows` bin-packed data
    * files — optionally laid along the multi-dimensional Z-order
    * curve of `zorderBy`, so every file covers a tight box of the key
    * space and the scan's per-file-stats SKIP prunes range predicates
    * on ANY of the keys. Fully DISTRIBUTED: the rewrite is a plain
    * DataFrame range-repartition + sort flowing through the normal
    * write-task path (each task streams one parquet file + its
    * stats). Commits as `dataChange = false`: content-identical, so
    * the change feed and streaming sources emit NOTHING for it, time
    * travel still serves every prior version, and the old files are
    * physically reclaimed by the next snapshot expiry — exactly the
    * lakehouse compaction contract. */
  def optimizeTable(spark: org.apache.spark.sql.SparkSession,
      catalogName: String, table: String, targetFileRows: Int,
      zorderBy: Seq[String] = Nil, curve: String = "zorder",
      scope: Option[org.apache.spark.sql.sources.Filter] = None): Unit = {
    require(curve == "zorder" || curve == "hilbert",
      s"optimizeTable: unknown curve '$curve' (zorder | hilbert)")
    require(scope.isEmpty || zorderBy.isEmpty,
      "optimizeTable: a partition scope applies to the incremental " +
        "bin-pack only")
    import org.apache.spark.sql.functions._
    require(targetFileRows > 0, s"targetFileRows must be > 0")
    val store = stores.getOrElse(catalogName + KeySep + table,
      throw new IllegalArgumentException(
        s"optimizeTable: $catalogName.$table is not loaded in this JVM"))
    require(store.dataDirStr.isDefined,
      "optimizeTable: only durable (file-backed) tables optimize")
    val tbl = s"$catalogName.$table"
    val df = spark.table(tbl)
    val n = store.currentState()._1.count
    val nFiles = math.max(1, ((n + targetFileRows - 1) / targetFileRows).toInt)
    // PARTITIONED tables compact WITHIN partitions: cluster tasks by
    // the partition columns (satisfying the write's required
    // distribution — no second exchange) and sort the curve INSIDE
    // each partition run, so both the partition tuples and the
    // per-file curve rectangles survive the rewrite
    val partCols = store.partSpec.map(_.col)
    // NO clustering directive -> INCREMENTAL bin-pack (the Delta
    // OPTIMIZE posture): only small / overlaid / old-spec files
    // rewrite; already-compact files pass through byte-identical —
    // O(dirty), the only schedulable shape at 100 TB. Curve forms
    // stay global rewrites (re-clustering is global by nature).
    if (zorderBy.isEmpty) {
      compactIncremental(spark, store, tbl, targetFileRows, scope)
      return
    }
    val laidOut =
      {
        val bits = graft.operators.ZOrder.bitsFor(zorderBy.length)
        val aggs = zorderBy.flatMap(k =>
          Seq(min(col(k)).cast("long"), max(col(k)).cast("long")))
        val bounds = df.agg(aggs.head, aggs.tail: _*).head()
        // an empty table (or an all-NULL key column) has no bounds to
        // normalize against: clustering is meaningless there — fall
        // back to the plain repartition instead of unboxing a NULL
        if (n == 0 || (0 until bounds.length).exists(bounds.isNullAt))
          df.repartition(nFiles)
        else if (curve == "hilbert" && zorderBy.length >= 2)
          hilbertLayout(df, zorderBy, bounds, nFiles, partCols)
        else zorderLayout(df, zorderBy, bounds, bits, nFiles, partCols)
      }
    laidOut.writeTo(tbl).option("dataChange", "false")
      .overwrite(lit(true))
  }

  /** INCREMENTAL OPTIMIZE (bin-packing): select only the DIRTY files —
    * small (< target/2 rows), carrying a delete/patch overlay, or
    * written under an evolved-away partition spec — read exactly those
    * through a file-restricted scan, and land their compact
    * replacements as one atomic `compaction` drop-add commit
    * ([[MemStore.compactFiles]], `dataChange = false`). Untouched
    * files are never read, never rewritten, never renamed: the verb's
    * cost is O(dirty bytes), not O(table). When every live file is
    * dirty, or a heap insert tail is (the drop-add commit can only name
    * files), the landing degenerates to the full rewrite commit (the
    * pre-round-16 shape — keeps small tables and generation
    * unification on the expiry-friendliest commit type). */
  private def compactIncremental(spark: org.apache.spark.sql.SparkSession,
      store: MemStore, tbl: String, targetFileRows: Int,
      scope: Option[org.apache.spark.sql.sources.Filter] = None): Unit = {
    import org.apache.spark.sql.functions._
    val (snap, _) = store.currentState()
    val expected = store.currentVersion
    val curSpecId = store.currentSpecId
    val minRows = math.max(1L, targetFileRows.toLong / 2)
    def nameOf(seg: RowSeg): String = seg match {
      case f: FileSeg =>
        java.nio.file.Paths.get(f.path).getFileName.toString
      case other => throw new IllegalStateException(
        s"durable table holds a non-file segment $other")
    }
    // partition SCOPE (`OPTIMIZE ... WHERE part op lit`): only files
    // whose tuple satisfies the predicate are candidates — everything
    // outside the scope is untouched BY CONSTRUCTION, so scheduled
    // maintenance over a 100 TB table pays only the day it targets.
    // Tuple evaluation is exact: a file's rows all share its tuple.
    val inScope: LiveSeg => Boolean = scope match {
      case None => _ => true
      case Some(flt) =>
        val spec = store.partSpec
        val idCols = spec.zipWithIndex.collect {
          case (PIdentity(c), i) => (c, i)
        }
        val tupleSchema = org.apache.spark.sql.types.StructType(
          idCols.map { case (c, _) =>
            store.physSchema(store.physSchema.fieldIndex(c)) })
        ls => ls.seg match {
          case f: FileSeg if f.specId == curSpecId =>
            f.partVals.exists { pv =>
              MemFilters.eval(tupleSchema, Seq(flt),
                new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(
                    idCols.map { case (_, i) => pv(i) }.toArray))
            }
          // old-generation files carry tuples under ANOTHER spec —
          // scoped maintenance leaves them to an unscoped pass
          case _ => false
        }
    }
    val candidates = snap.segs.filter(inScope)
    val mustRewrite = candidates.filter { ls =>
      ls.dels.nonEmpty || ls.patches.nonEmpty || (ls.seg match {
        case f: FileSeg => f.specId != curSpecId
        case _ => true
      })
    }
    val small = candidates.filterNot(mustRewrite.contains).filter(_.seg match {
      case f: FileSeg => f.count < minRows
      case _ => false
    })
    // a lone small file with nothing to pack against stays put —
    // otherwise the folded result (itself below target) would
    // re-compact on every run and the verb would never be idempotent
    val dirty = mustRewrite ++
      (if (small.length >= 2 || mustRewrite.nonEmpty) small else Nil)
    if (dirty.isEmpty) return // nothing to do: O(0), not O(table)
    val partCols = store.partSpec.map(_.col)
    // a drop-add commit names the FILES it drops, so a dirty heap
    // insert tail (the inserts of a MERGE) has no name to drop it by:
    // its rows fold into the full rewrite with everything else
    if (dirty.length == snap.segs.length ||
        dirty.exists(!_.seg.isInstanceOf[FileSeg])) {
      // one full rewrite commit
      val df = spark.table(tbl)
      val n = snap.count
      val nFiles = math.max(1,
        ((n + targetFileRows - 1) / targetFileRows).toInt)
      val laidOut =
        if (partCols.isEmpty) df.repartition(nFiles)
        else df.repartition(nFiles, partCols.map(col): _*)
          .sortWithinPartitions(partCols.map(col): _*)
      laidOut.writeTo(tbl).option("dataChange", "false")
        .overwrite(lit(true))
      return
    }
    val names = dirty.map(ls => nameOf(ls.seg))
    val liveDirty = dirty.map(_.liveCount).sum
    val nFiles = math.max(1,
      ((liveDirty + targetFileRows - 1) / targetFileRows).toInt)
    // read ONLY the dirty files (their overlays apply in the scan)
    val df = spark.read.option("graft.files", names.mkString(","))
      .table(tbl)
    val laid =
      if (partCols.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles, partCols.map(col): _*)
        .sortWithinPartitions(partCols.map(col): _*)
    laid.writeTo(tbl)
      .option("dataChange", "false")
      .option("graft.compact.remove", names.mkString(","))
      .option("graft.compact.expect", expected.toString)
      .append()
  }

  /** The HILBERT-curve rewrite layout (`curve = "hilbert"`): the
    * Skilling transform over the normalized keys instead of Morton
    * interleaving — consecutive curve runs are CONNECTED
    * d-dimensional blobs, so per-file rectangles are tighter and
    * range predicates on any clustered key skip more files than
    * under Z-order (the q305 measurement, now on the compaction
    * verb). Same one-shuffle distributed shape. */
  private def hilbertLayout(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], bounds: org.apache.spark.sql.Row,
      nFiles: Int, partCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val bits = math.min(graft.operators.Hilbert.BitsPerDim,
      62 / keys.length)
    val normed = keys.zipWithIndex.map { case (k, j) =>
      graft.operators.ZOrder.normalize(col(k), bounds.getLong(2 * j),
        bounds.getLong(2 * j + 1), bits)
    }
    curveExchange(graft.operators.Hilbert.withIndexN(df, normed, bits),
      "_h", nFiles, partCols)
  }

  /** The one exchange of a clustered rewrite: range on the curve for
    * unpartitioned tables; partition-clustered with the curve sorted
    * INSIDE each partition run for partitioned ones. */
  private def curveExchange(withCurve: org.apache.spark.sql.DataFrame,
      curveCol: String, nFiles: Int, partCols: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val laid =
      if (partCols.isEmpty)
        withCurve.repartitionByRange(nFiles, col(curveCol))
          .sortWithinPartitions(col(curveCol))
      else
        withCurve.repartition(nFiles, partCols.map(col): _*)
          .sortWithinPartitions((partCols :+ curveCol).map(col): _*)
    laid.drop(curveCol)
  }

  /** The clustered rewrite layout: normalize each key against its
    * (non-NULL) bounds, interleave, range-partition and sort on the
    * curve value. */
  private def zorderLayout(df: org.apache.spark.sql.DataFrame,
      zorderBy: Seq[String], bounds: org.apache.spark.sql.Row,
      bits: Int, nFiles: Int, partCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // one key needs no interleaving: clustering = the key's own order
    if (zorderBy.length == 1)
      curveExchange(df.withColumn("_z", col(zorderBy.head)),
        "_z", nFiles, partCols)
    else {
      val normed = zorderBy.zipWithIndex.map { case (k, j) =>
        graft.operators.ZOrder.normalize(col(k), bounds.getLong(2 * j),
          bounds.getLong(2 * j + 1), bits)
      }
      curveExchange(df.withColumn("_z",
          graft.operators.ZOrder.interleaveBits(normed, bits)),
        "_z", nFiles, partCols)
    }
  }

  /** `table_changes(from, to)` (the Delta Change Data Feed surface):
    * every row changed in versions [from, to] with its change type and
    * commit version — `insert`, `delete`, `update_preimage` /
    * `update_postimage` — read straight off the retained delta
    * history ([[MemStore.changes]]). The downstream-sync primitive: a
    * consumer replaying the feed reconstructs the table without ever
    * re-scanning it. */
  def tableChanges(spark: org.apache.spark.sql.SparkSession,
      catalogName: String, table: String, fromV: Int,
      toV: Int): org.apache.spark.sql.DataFrame = {
    val store = stores.getOrElse(catalogName + KeySep + table,
      throw new IllegalArgumentException(
        s"tableChanges: $catalogName.$table is not loaded in this JVM"))
    val schema = store.schema
    val full = MemStore.changeSchema(schema)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      store.changes(fromV, toV).map { case (ct, ver, r) =>
        val vals = schema.fields.zipWithIndex.map { case (f, i) =>
          if (i >= r.numFields || r.isNullAt(i)) null
          else MemCatalog.external(f.dataType, r.get(i, f.dataType))
        }
        org.apache.spark.sql.Row.fromSeq(ct +: ver +: vals.toSeq)
      }.asJava
    spark.createDataFrame(rows, full)
  }

  /** Catalyst internal value -> external Row value for the CDF frame.
    * Covers every type `createTable` realistically sees; a type with
    * no conversion fails LOUDLY here rather than mis-encoding at
    * `createDataFrame` (dates/timestamps ride internally as raw
    * int/long and would otherwise slip through). */
  private[sources] def external(dt: org.apache.spark.sql.types.DataType,
      v: Any): Any = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    (dt, v) match {
      case (_, null) => null
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
        u.toString
      case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
        d.toJavaBigDecimal
      case (DateType, days: java.lang.Integer) =>
        DateTimeUtils.toJavaDate(days)
      case (TimestampType, micros: java.lang.Long) =>
        DateTimeUtils.toJavaTimestamp(micros)
      case (TimestampNTZType, micros: java.lang.Long) =>
        DateTimeUtils.microsToLocalDateTime(micros)
      case (BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | BinaryType, x) => x
      case (other, _) => throw new UnsupportedOperationException(
        s"table_changes: no external conversion for column type $other")
    }
  }
}

/** One retained version's content, stored AS ITS DELTA over the
  * previous version — the in-memory mirror of the commit-log entries,
  * so a MERGE that touches 3 rows retains 3 rows of history, never a
  * full row-vector snapshot per version. Bulk versions hold
  * [[RowSeg]]s — file references on the durable plane — so even the
  * metadata of a huge append is O(files). The oldest retained version
  * is always a self-contained [[VBase]]; replay composes. */
private[sources] sealed trait VDelta
private[sources] final case class VBase(segs: Vector[RowSeg])
  extends VDelta
private[sources] final case class VAppend(segs: Vector[RowSeg])
  extends VDelta
/** Positions index the PREVIOUS version's snapshot ordering. */
private[sources] final case class VRowDelta(deletes: Vector[Long],
    updates: Vector[(Long, InternalRow)], inserts: Vector[InternalRow])
  extends VDelta
/** Schema-change marker (rows identical to the previous version). */
private[sources] case object VMarker extends VDelta
/** OPTIMIZE's landing: the snapshot re-laid into new files with
  * IDENTICAL content (`dataChange = false`) — the change feed and
  * streaming sources emit NOTHING for it, exactly the Delta OPTIMIZE
  * convention (a CDC consumer must not re-process a compaction). */
private[sources] final case class VRewrite(segs: Vector[RowSeg])
  extends VDelta
/** PARTITION OVERWRITE's landing (INSERT OVERWRITE ... PARTITION /
  * dynamic-mode overwrite): drop whole named data files (partition-
  * pure by construction) and add fresh ones, ONE atomic version.
  * Kept segments carry their overlays forward untouched — only the
  * named files (and their overlays) leave the snapshot.
  *
  * `removeTuples` records the overwritten PARTITION TUPLES alongside
  * the names (equal row sets at commit time, since an overwrite drops
  * every live file of its tuples). The tuple form is what survives
  * retention: expiry consolidation rewrites the snapshot into
  * freshly-NAMED files, so a drop-add retained above the consolidation
  * point would match nothing by name and silently resurrect the
  * overwritten partition — matching by tuple is rename-proof. */
private[sources] final case class VDropAdd(removeNames: Vector[String],
    add: Vector[RowSeg],
    removeTuples: Vector[Vector[Any]] = Vector.empty,
    removeSpecId: Int = 0,
    /** `true` = an incremental-OPTIMIZE bin-pack landing: the named
      * small/overlaid files re-laid into fewer compact ones,
      * content-identical (`dataChange = false`) — the change feed
      * skips it like a [[VRewrite]], and untouched files pass through
      * BYTE-IDENTICAL (never named, never rewritten). */
    compaction: Boolean = false) extends VDelta {
  @transient private lazy val nameSet = removeNames.toSet
  @transient private lazy val tupleSet = removeTuples.toSet
  /** Does this overwrite drop the given segment? Name match covers
    * files live at commit time; tuple match covers the same partition
    * content after expiry consolidation renamed the files — spec-id
    * guarded, so a tuple under an EVOLVED spec can never alias one
    * recorded under the overwrite's spec. */
  def drops(seg: RowSeg): Boolean = seg match {
    case f: FileSeg =>
      nameSet.contains(
        java.nio.file.Paths.get(f.path).getFileName.toString) ||
        (f.specId == removeSpecId && f.partVals.exists(tupleSet.contains))
    case _ => false
  }
}

/** PARTITION-SPEC-EVOLUTION marker (rows identical; subsequent writes
  * land under the new spec; old files keep their tuples + spec id). */
private[sources] final case class VSpecChange(specId: Int,
    spec: Seq[PartTransform]) extends VDelta

private[sources] object VDelta {
  /** The delta a file-reference commit of `mode` lands. */
  def ofFiles(mode: Int, segs: Vector[RowSeg]): VDelta = mode match {
    case FileCommit.Append => VAppend(segs)
    case FileCommit.Rewrite => VRewrite(segs)
    case _ => VBase(segs)
  }

  /** Apply one version delta to a materialized row vector — the
    * reference semantics ([[Snap.applyDelta]] is the segment-overlay
    * generalization; `CommitStatsProps` pins the two agree through
    * the stats fold). Heap segments only. */
  def apply(prev: Vector[InternalRow], d: VDelta): Vector[InternalRow] =
    d match {
      case _: VDropAdd => throw new UnsupportedOperationException(
        "VDropAdd names data files — file plane only")
      case VBase(segs) => segs.flatMap(memRows)
      case VRewrite(segs) => segs.flatMap(memRows)
      case VAppend(segs) => prev ++ segs.flatMap(memRows)
      case VMarker => prev
      case _: VSpecChange => prev
      case VRowDelta(deletes, updates, inserts) =>
        val del = deletes.toSet
        val upd = updates.toMap
        val b = Vector.newBuilder[InternalRow]
        var i = 0
        while (i < prev.length) {
          if (!del.contains(i.toLong))
            b += upd.getOrElse(i.toLong, prev(i))
          i += 1
        }
        b ++= inserts
        b.result()
    }

  private def memRows(seg: RowSeg): Vector[InternalRow] = seg match {
    case MemSeg(rows) => rows
    case f: FileSeg => throw new IllegalStateException(
      s"VDelta.apply is the heap-only reference fold, got $f")
  }
}

/** One retained version of a [[MemStore]]: the delta that made it,
  * its commit time (epoch micros), its live row count (DESCRIBE
  * HISTORY without folding), its snapshot stats (the fold of the
  * commit-log stats sidecars: None from the first commit whose sidecar
  * is missing until the next replace/delta re-seeds exact stats) and
  * its PHYSICAL schema (the rename/drop history: what a time-travel
  * handle surfaces and a pinned scan decodes against, so `VERSION AS
  * OF n` shows the names of version n). */
private[sources] final case class Retained(delta: VDelta, tsMicros: Long,
    count: Long, stats: Option[CommitStats], schema: StructType)

/** Mutable version-history store for one table. Writes are
  * synchronized; readers capture an immutable [[Snap]] — a vector of
  * overlaid segments, which on the durable plane are parquet FILE
  * REFERENCES (the snapshot-isolation a format gets from file
  * immutability). History is retained as one [[Retained]] record per
  * version — version 0 is the empty table at creation — so `VERSION AS
  * OF n` reconstructs exact historical snapshots by folding deltas from
  * the oldest retained [[VBase]], while the memory AND disk cost of a
  * version is O(what changed): bulk writes cost file references,
  * row-level writes cost their delta.
  *
  * Every version lands through one step ([[land]]), live commits and
  * log replay alike, so the live state is the fold of the commit log
  * by construction (the Delta/Iceberg replay model the write-ahead
  * commits assume). */
private[sources] final class MemStore(schema0: StructType,
    log: Option[CommitLog] = None,
    createdMicros: Long = MemStore.nowMicros()) {
  // LATEST schema — ADD COLUMN evolves it append-only; historical rows
  // keep their original (prefix) arity and reads pad with NULLs (the
  // Delta AddColumn read behavior)
  @volatile private var curSchema: StructType = schema0
  /** LOGICAL schema — what the table surfaces: physical minus dropped
    * columns (ColumnMapping). Identical to [[physSchema]] until a
    * DROP happens. */
  def schema: StructType = ColumnMapping.logical(curSchema)
  /** PHYSICAL schema — every slot ever added (dropped ones flagged),
    * the layout rows, stats, and commit files decode against. */
  def physSchema: StructType = curSchema
  // versions [base, base + hist.length): hist(i) is version base + i,
  // and hist(0).delta is always a self-contained VBase. base > 0 only
  // after snapshot expiry pruned the prefix.
  @volatile private var base: Int = 0
  @volatile private var hist: Vector[Retained] = Vector(Retained(
    VBase(Vector.empty), createdMicros, 0L,
    Some(CommitStats.empty(schema0)), schema0))
  // the CURRENT snapshot view: the fold of hist's deltas, maintained
  // incrementally by land (never re-folded)
  @volatile private var cur: Snap = Snap.empty

  /** Land one version: the live view applies `delta` and the version's
    * record joins the history; a commit's streaming-transaction marker
    * advances that query's last epoch. Callers hold the monitor. */
  private def land(delta: VDelta, t: Long, stats: Option[CommitStats],
      schema: StructType, txn: Option[(String, Long)] = None): Unit = {
    cur = Snap.applyDelta(cur, delta)
    hist = hist :+ Retained(delta, t, cur.count, stats, schema)
    txn.foreach { case (q, e) =>
      txns = txns.updated(q, math.max(e, txns.getOrElse(q, Long.MinValue)))
    }
  }

  /** A schema-change version: the stats fold re-keys onto the new
    * names (a rename moves the name, not the slot), so pruning keeps
    * working. */
  private def landSchema(t: Long, sc: StructType): Unit =
    land(VMarker, t,
      hist.last.stats.map(CommitStats.rekey(_, hist.last.schema, sc)), sc)

  /** Per-file stats follow a schema change onto the new names, in the
    * live view and every retained delta alike: a replay decodes them
    * under the latest schema, and a partition overwrite folds the kept
    * files' stats into the snapshot's. */
  private def renameFileStats(from: StructType, to: StructType): Unit = {
    def seg(s: RowSeg): RowSeg = s match {
      case f: FileSeg =>
        f.copy(stats = f.stats.map(CommitStats.rekey(_, from, to)))
      case m => m
    }
    def segs(d: VDelta): VDelta = d match {
      case VBase(ss) => VBase(ss.map(seg))
      case VAppend(ss) => VAppend(ss.map(seg))
      case VRewrite(ss) => VRewrite(ss.map(seg))
      case da: VDropAdd => da.copy(add = da.add.map(seg))
      case other => other
    }
    hist = hist.map(r => r.copy(delta = segs(r.delta)))
    cur = Snap(cur.segs.map(ls => ls.copy(seg = seg(ls.seg))))
  }

  /** An append's stats fold onto the previous version's (None once
    * either side is unknown); every other commit carries its own. */
  private def foldedStats(append: Boolean,
      cs: Option[CommitStats]): Option[CommitStats] =
    if (append) for { a <- hist.last.stats; b <- cs }
      yield CommitStats.merge(a, b)
    else cs

  /** Data-file directory of the durable plane; None = in-memory. */
  def dataDirStr: Option[String] = log.map(_.dataDir.toString)

  /** Partition spec (durable tables; Nil = unpartitioned). */
  def partSpec: Seq[PartTransform] = log.map(_.partSpec).getOrElse(Nil)

  /** Full spec registry (spec evolution); id = index, last = write
    * spec. Heap tables: one empty spec. */
  def specsAll: Vector[Seq[PartTransform]] =
    log.map(_.specs).getOrElse(Vector(Nil))
  def currentSpecId: Int = specsAll.length - 1
  def specOf(id: Int): Seq[PartTransform] =
    log.map(_.specOf(id)).getOrElse(Nil)

  // ---- WRITE-TIME CONSTRAINTS (Delta invariants) --------------------
  @volatile private var constraintsV: TableConstraints =
    log.map(l => Constraints.read(l.rootDir)).getOrElse(TableConstraints())
  def constraints: TableConstraints = constraintsV

  private def persistConstraints(): Unit =
    log.foreach(l => Constraints.write(l.rootDir, constraintsV))

  /** Validate every LIVE row against a validator (add-time gate:
    * adding a constraint a stored row already violates is refused,
    * the Delta behavior). Driver-side stream; a cluster deployment
    * distributes it as a validation job. */
  private def validateExisting(rc: RowCheck): Unit = {
    if (rc.isEmpty) return
    val phys = curSchema
    val l2p = ColumnMapping.logicalToPhys(phys)
    cur.iterator(phys).foreach { r =>
      val vals = new Array[Any](l2p.length)
      var i = 0
      while (i < l2p.length) {
        val p = l2p(i)
        vals(i) = if (p >= r.numFields || r.isNullAt(p)) null
          else r.get(p, phys(p).dataType)
        i += 1
      }
      rc.validate(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          vals))
    }
  }

  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      name: String, sql: String): Unit = synchronized {
    require(!constraintsV.checks.exists(_.name == name),
      s"constraint $name already exists")
    require(!sql.contains("\n") && !sql.contains("\t"),
      "CHECK expression must be one line")
    val one = TableConstraints(checks = Vector(CheckConstraint(name, sql)))
    validateExisting(Constraints.rowCheck(spark, one, curSchema))
    constraintsV = constraintsV.copy(
      checks = constraintsV.checks :+ CheckConstraint(name, sql))
    persistConstraints()
  }

  def dropCheckConstraint(name: String): Unit = synchronized {
    require(constraintsV.checks.exists(_.name == name),
      s"no such constraint $name")
    constraintsV = constraintsV.copy(
      checks = constraintsV.checks.filterNot(_.name == name))
    persistConstraints()
  }

  def setNotNull(spark: org.apache.spark.sql.SparkSession,
      col: String, enable: Boolean): Unit = synchronized {
    val phys = curSchema
    val i = phys.fields.indexWhere(f =>
      !ColumnMapping.isDropped(f) && f.name == col)
    require(i >= 0, s"column $col not found")
    val id = ColumnMapping.fieldId(phys(i)).getOrElse(
      throw new UnsupportedOperationException(
        "NOT NULL constraints are field-id keyed; this table predates " +
          "column mapping — recreate it"))
    if (enable) {
      val one = TableConstraints(notNullIds = Set(id))
      validateExisting(Constraints.rowCheck(spark, one, curSchema))
      constraintsV = constraintsV.copy(
        notNullIds = constraintsV.notNullIds + id)
    } else constraintsV = constraintsV.copy(
      notNullIds = constraintsV.notNullIds - id)
    persistConstraints()
  }

  /** Columns the CHECK constraints reference — RENAME/DROP of one is
    * refused (loud dependency rule). */
  def checkReferencedCols: Set[String] =
    constraintsV.checks.flatMap(c => Constraints.references(c.sql)).toSet

  // ---- WRITE-TIME CLUSTERING ([[ClusterSpec]]) -----------------------
  @volatile private var clusterIdsV: Vector[Long] =
    log.map(l => ClusterSpec.read(l.rootDir)).getOrElse(Vector.empty)

  /** Clustering columns resolved to CURRENT logical names (field-id
    * keyed, so a rename between SET CLUSTERED BY and the write still
    * resolves; a dropped column silently leaves the list). */
  def clusterCols: Seq[String] = {
    val phys = curSchema
    val l2p = ColumnMapping.logicalToPhys(phys)
    val logical = ColumnMapping.logical(phys)
    clusterIdsV.flatMap { id =>
      l2p.indices.find(li =>
        ColumnMapping.fieldId(phys(l2p(li))).contains(id))
        .map(li => logical(li).name)
    }
  }

  /** `ALTER TABLE ... SET CLUSTERED BY (cols | NONE)`. */
  def setClusterCols(cols: Seq[String]): Unit = synchronized {
    val phys = curSchema
    // case-insensitive resolution (the SQL-default identifier rule;
    // the store has no session handle, so mirror the default resolver)
    val ids = cols.map { c =>
      val i = phys.fields.indexWhere(f =>
        !ColumnMapping.isDropped(f) && f.name.equalsIgnoreCase(c))
      require(i >= 0, s"SET CLUSTERED BY: no such column $c")
      require(CommitStats.minMaxTracked(phys(i).dataType),
        s"SET CLUSTERED BY: column $c (${phys(i).dataType.simpleString}) " +
          "has no tracked min/max ordering — clustering would never skip")
      ColumnMapping.fieldId(phys(i)).getOrElse(
        throw new UnsupportedOperationException(
          "clustering columns are field-id keyed; this table predates " +
            "column mapping — recreate it"))
    }.toVector
    clusterIdsV = ids
    log.foreach(l => ClusterSpec.write(l.rootDir, ids))
  }

  // ---- NAMED REFS (tags) ---------------------------------------------
  @volatile private var refsV: Map[String, Int] =
    log.map(l => Refs.read(l.rootDir)).getOrElse(Map.empty)
  /** Live tag map (name → version). */
  def refs: Map[String, Int] = refsV

  /** `ALTER TABLE ... CREATE TAG name [VERSION AS OF v]` — an
    * immutable named pointer at a retained version. The tagged
    * version is PROTECTED from expiry until the tag drops. */
  def createTag(name: String, version: Int): Unit = synchronized {
    require(Refs.validName(name),
      s"bad tag name '$name' — must start with a letter/underscore " +
        "(never purely numeric: digits mean versions in VERSION AS OF)")
    require(!refsV.contains(name), s"tag $name already exists " +
      s"(at version ${refsV(name)}) — tags are immutable; DROP TAG first")
    require(version >= oldestVersion && version <= currentVersion,
      s"CREATE TAG $name: version $version outside the retained window " +
        s"[$oldestVersion, $currentVersion]")
    refsV += name -> version
    log.foreach(l => Refs.write(l.rootDir, refsV))
  }

  def dropTag(name: String): Unit = synchronized {
    require(refsV.contains(name), s"no such tag $name")
    refsV -= name
    log.foreach(l => Refs.write(l.rootDir, refsV))
  }

  /** Resolve a `VERSION AS OF` string: digits = version number,
    * otherwise a tag name (loud when unknown). */
  def resolveVersion(version: String): Int =
    if (version.nonEmpty && version.forall(_.isDigit)) version.toInt
    else refsV.getOrElse(version, throw new IllegalArgumentException(
      s"no such tag '$version' " +
        s"(known tags: ${refsV.keys.toSeq.sorted.mkString(", ")})"))

  // ---- ANALYZE column statistics (the CBO sidecar) -------------------
  @volatile private var colStatsV: Option[AnalyzedStats] =
    log.flatMap(l => AnalyzedColStats.read(l.rootDir))
  /** ANALYZE-time NDV + byte lengths per FIELD ID (None until the
    * first `ANALYZE TABLE ... COMPUTE STATISTICS`); exact
    * min/max/nullCount ride [[statsAt]] instead. */
  def analyzedStats: Option[AnalyzedStats] = colStatsV

  /** Record an ANALYZE pass: `FOR COLUMNS c1, c2` merges over prior
    * entries (per-column refresh), the version stamp records the
    * snapshot the numbers describe. Field-id keying survives RENAME
    * COLUMN; ids of dropped columns simply stop matching. */
  def recordColumnStats(cols: Map[Long, AnalyzedCol]): Unit = synchronized {
    val merged = colStatsV.map(_.cols).getOrElse(Map.empty) ++ cols
    val next = AnalyzedStats(currentVersion, merged)
    colStatsV = Some(next)
    log.foreach(l => AnalyzedColStats.write(l.rootDir, next))
  }

  /** ALTER TABLE ... SET PARTITIONED BY — PARTITION-SPEC EVOLUTION
    * (the Iceberg model): publishes a new write spec as its own
    * commit version. Old data files keep their tuples under their own
    * spec ids (pruning consults each file's spec); new writes land
    * under the new spec; OPTIMIZE rewrites the whole plane under the
    * current spec, unifying the generations. Rows are untouched —
    * evolution is a metadata operation, which at 100 TB is the whole
    * point (no table rewrite to change time-partitioning grain). */
  def evolvePartitionSpec(newSpec: Seq[PartTransform]): Unit = synchronized {
    val l = log.getOrElse(throw new UnsupportedOperationException(
      "partition-spec evolution needs a durable (file-backed) table"))
    Partitioning.validate(newSpec, ColumnMapping.logical(curSchema))
    require(newSpec != partSpec, "SET PARTITIONED BY: spec unchanged")
    def attempt(nextVer: Int): Unit = {
      val t = MemStore.nowMicros()
      l.recordSpecChange(nextVer, t, newSpec)
      land(VSpecChange(l.currentSpecId, newSpec), t, hist.last.stats,
        curSchema)
    }
    // rebase over appends; any other concurrent commit aborts (an
    // in-flight overwrite/delta computed under the old spec must not
    // silently interleave with the spec change)
    publishWithRetry(l)(es => if (!appendsOnly(es))
      throw new java.util.ConcurrentModificationException(
        "concurrent non-append commits conflict with SET PARTITIONED BY"))(
      attempt)
    maybeCheckpoint()
  }

  /** One consistent (snapshot, statistics) pair under a single
    * synchronized read — a scan capturing the two separately could
    * pair a fresh snapshot with stale stats (or vice versa) and let
    * the zone-map short-circuit wrongly empty a scan whose snapshot
    * still holds matching rows. */
  def currentState(): (Snap, Option[CommitStats]) =
    synchronized { (cur, hist.last.stats) }

  /** One consistent (snapshot, version) pair — for writers that
    * compute a commit OUTSIDE the lock against this snapshot and need
    * the commit path to verify nothing landed in between (the
    * optimistic-concurrency read anchor). */
  def currentStateVersioned(): (Snap, Int) =
    synchronized { (cur, currentVersion) }

  /** Reconstruct a historical snapshot VIEW by folding retained
    * deltas — O(retained window) metadata per time-travel read, the
    * price of O(delta) version storage (a format pays the same shape:
    * plan a historical snapshot = resolve its live file set from the
    * log). No rows are materialized — the result is segment
    * references plus overlays. The LIVE version is served from the
    * maintained view, never folded. */
  /** One consistent (historical snapshot, its stats) pair under a
    * single synchronized read — the pinned-scan analog of
    * [[currentState]]: a concurrent expiry re-basing `base`/`hist`
    * between two separate reads could pair a snapshot with mismatched
    * stats (or throw mid-pair). */
  def versionState(v: Int): (Snap, Option[CommitStats], StructType) =
    synchronized {
      (versionSnapshot(v), statsAt(v), hist(v - base).schema)
    }

  /** PHYSICAL schema as of version `v` (clone truncation). */
  private[sources] def physSchemaAt(v: Int): StructType = versionState(v)._3

  /** Spec registry as of version `v`: the full registry minus specs
    * introduced by VSpecChange markers AFTER `v` (clone truncation —
    * the clone's write spec must be v's write spec). */
  private[sources] def specsAt(v: Int): Vector[Seq[PartTransform]] =
    synchronized {
      val total = hist.tail.count(_.delta.isInstanceOf[VSpecChange])
      val atBase = specsAll.length - total
      val upto = hist.slice(1, v - base + 1)
        .count(_.delta.isInstanceOf[VSpecChange])
      specsAll.take(atBase + upto)
    }

  /** In-memory deltas of versions AFTER `v` (fast-forward suffix
    * inspection). */
  private[sources] def deltasAfter(v: Int): Seq[VDelta] = synchronized {
    hist.drop(v - base + 1).map(_.delta)
  }

  /** The durable log (None = heap table). */
  private[sources] def commitLog: Option[CommitLog] = log

  def versionSnapshot(v: Int): Snap = synchronized {
    require(v >= base,
      s"version $v expired — history is pruned before version $base")
    require(v <= currentVersion,
      s"version $v out of range [$base, $currentVersion]")
    if (v == currentVersion) cur
    else hist.iterator.take(v - base + 1).map(_.delta)
      .foldLeft(Snap.empty)(Snap.applyDelta)
  }
  def currentVersion: Int = base + hist.length - 1
  def oldestVersion: Int = base
  /** Snapshot statistics for a retained version — the metadata that
    * serves COUNT/MIN/MAX without touching rows. None when any
    * contributing commit's sidecar was lost (reads fall back to a
    * scan). */
  def statsAt(v: Int): Option[CommitStats] = {
    require(v >= base && v <= currentVersion,
      s"version $v outside retained window [$base, $currentVersion]")
    hist(v - base).stats
  }
  /** `TIMESTAMP AS OF` resolution: the newest version committed at or
    * before `tsMicros` — the Delta/Iceberg convention; a timestamp
    * before the oldest RETAINED snapshot fails loudly. */
  def versionAt(tsMicros: Long): Int = {
    require(tsMicros >= hist.head.tsMicros,
      s"timestamp $tsMicros predates the oldest retained snapshot " +
        s"(${hist.head.tsMicros}, version $base)")
    base + hist.lastIndexWhere(_.tsMicros <= tsMicros)
  }

  /** In-memory bulk append (pathless catalogs only — durable writes
    * go through [[commitFiles]] with rows already on disk). */
  def append(r: Seq[InternalRow],
      txn: Option[(String, Long)] = None): Unit = synchronized {
    require(log.isEmpty,
      "durable tables commit files, not row vectors (commitFiles)")
    land(VAppend(Vector(MemSeg(r.toVector))), MemStore.nowMicros(),
      foldedStats(append = true, Some(CommitStats.of(r, curSchema))),
      curSchema, txn)
  }
  /** In-memory replace (INSERT OVERWRITE / RESTORE, pathless);
    * `rewrite = true` = the dataChange-false OPTIMIZE landing. */
  def replace(r: Seq[InternalRow], rewrite: Boolean = false): Unit =
    synchronized {
      require(log.isEmpty,
        "durable tables commit files, not row vectors (commitFiles)")
      val segs = Vector(MemSeg(r.toVector))
      land(if (rewrite) VRewrite(segs) else VBase(segs), MemStore.nowMicros(),
        Some(CommitStats.of(r, curSchema)), curSchema)
    }

  /** Fold commits OTHER writers published (version > ours) into this
    * store's state — the refresh step of the optimistic-concurrency
    * loop. Returns the interleaved entries for the conflict check. */
  private def refreshFromLog(l: CommitLog): Seq[LogEntry] = {
    val fresh = l.replayAfter(currentVersion)
    fresh.foreach(fold)
    fresh
  }

  /** True iff every interleaved commit is a plain APPEND — the class
    * that commutes with everything: appends only extend the live
    * ordering, so existing row POSITIONS (what a row-level delta
    * addresses) stay valid under rebase. */
  private def appendsOnly(es: Seq[LogEntry]): Boolean = es.forall {
    case DataCommit(_, replace, _, _, _) => !replace
    case fc: FileCommit => fc.mode == FileCommit.Append
    case _ => false
  }

  /** OPTIMISTIC MULTI-WRITER COMMIT: attempt to publish at
    * `currentVersion + 1`; when another writer won that version
    * (create-new publication failed), refresh this store from the
    * log, run the caller's semantic conflict check over the
    * interleaved commits (throw to abort, return to rebase), and
    * retry at the new head — the Delta/Iceberg concurrency protocol.
    * Disjoint writers both land; conflicting ones fail loudly with
    * a ConcurrentModificationException rather than corrupting. */
  private def publishWithRetry(l: CommitLog)(
      conflictCheck: Seq[LogEntry] => Unit)(attempt: Int => Unit): Unit = {
    var tries = 0
    var done = false
    while (!done) {
      try { attempt(currentVersion + 1); done = true }
      catch {
        case _: CommitLog.VersionConflictException =>
          tries += 1
          require(tries <= 64, "commit collision storm: giving up")
          conflictCheck(refreshFromLog(l))
      }
    }
  }

  // last committed streaming epoch per query id (the Delta
  // SetTransaction map): rebuilt from retained commits on replay,
  // consulted for exactly-once idempotence on epoch re-delivery
  @volatile private var txns: Map[String, Long] = Map.empty
  def lastEpoch(queryId: String): Option[Long] = txns.get(queryId)

  /** Commit one STREAMING epoch of file refs — exactly-once: an epoch
    * at or below the query's last recorded one is a checkpoint replay
    * and commits NOTHING (the caller deletes its stray files). The
    * (queryId, epochId) marker rides IN the commit, so idempotence
    * survives restarts via the same log replay as everything else. */
  def commitStreamFiles(queryId: String, epochId: Long, files: Seq[FileRef],
      cs: CommitStats): Boolean = synchronized {
    if (txns.get(queryId).exists(_ >= epochId)) false
    else {
      commitFilesTxn(files, cs, FileCommit.Append, Some((queryId, epochId)))
      true
    }
  }

  /** Streaming epoch append of HEAP rows (in-memory tables): same
    * idempotence, volatile txn map (the table itself is volatile). */
  def appendStreamRows(queryId: String, epochId: Long,
      rows: Seq[InternalRow]): Boolean = synchronized {
    if (txns.get(queryId).exists(_ >= epochId)) false
    else {
      append(rows, Some((queryId, epochId)))
      true
    }
  }

  /** Commit one bulk write of the FILE-BACKED plane: the write tasks
    * already streamed their rows into immutable data files under the
    * log's `data/` dir and folded exact stats on the way; this makes
    * them live as ONE atomic version whose durable commit holds file
    * REFERENCES. Write-ahead like every commit: the commit file lands
    * before the in-memory version advances. Concurrency: appends
    * rebase over ANY interleaved commit; replaces and rewrites abort
    * on any (an overwrite that silently dropped a concurrent append,
    * or an OPTIMIZE whose "content-identical" claim a concurrent
    * delta falsified, would corrupt). */
  def commitFiles(files: Seq[FileRef], cs: CommitStats,
      mode: Int): Unit = commitFilesTxn(files, cs, mode, None)

  private def commitFilesTxn(files: Seq[FileRef], cs: CommitStats,
      mode: Int, txn: Option[(String, Long)]): Unit = synchronized {
    val l = log.getOrElse(throw new IllegalStateException(
      "commitFiles needs a durable log"))
    val check: Seq[LogEntry] => Unit =
      if (mode == FileCommit.Append) _ => ()
      else es => if (es.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commits ${es.map(_.version).mkString(",")} conflict " +
            "with a replace/rewrite — recompute against the new snapshot")
    publishWithRetry(l)(check) { next =>
      val t = MemStore.nowMicros()
      l.recordFiles(next, mode, t, files, cs, txn = txn)
      land(VDelta.ofFiles(mode, files.map(l.fileSeg).toVector), t,
        foldedStats(mode == FileCommit.Append, Some(cs)), curSchema, txn)
    }
    maybeCheckpoint()
  }

  /** PARTITION OVERWRITE (INSERT OVERWRITE ... PARTITION / dynamic
    * mode): drop the files whose partition tuple the caller selected,
    * add the freshly-written ones — ONE atomic version (a kind-6
    * commit). Stats stay EXACT without a table scan: overlay-free
    * kept files contribute their commit-time per-file stats,
    * overlaid kept segments stream their (few) live rows, added
    * files bring their own — merged. Conflicts: like a replace, any
    * interleaved commit aborts. */
  def overwriteFiles(removeNames: Set[String], add: Seq[FileRef],
      expectedVersion: Int): Unit =
    synchronized {
      val l = log.getOrElse(throw new IllegalStateException(
        "overwriteFiles needs a durable log"))
      // the caller computed removeNames against `expectedVersion`'s
      // snapshot OUTSIDE this lock; a same-JVM commit that landed in
      // between never hits the create-new publication conflict (we'd
      // publish at the NEW head), so anchor the conflict check at the
      // read snapshot explicitly — mirror of the cross-process path
      if (currentVersion != expectedVersion)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit(s) advanced version $expectedVersion -> " +
            s"$currentVersion under this partition overwrite — recompute")
      publishWithRetry(l)(es => if (es.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commits ${es.map(_.version).mkString(",")} conflict " +
            "with a partition overwrite — recompute"))  { next =>
        val t = MemStore.nowMicros()
        val addSegs = add.map(l.fileSeg).toVector
        // record the overwritten partition tuples alongside the names:
        // the rename-proof form expiry consolidation needs (see
        // [[VDropAdd]]) — all under one spec id (the write guard
        // requires a current-spec-only file plane)
        val removeTuples = cur.segs.iterator.map(_.seg).collect {
          case f: FileSeg if removeNames.contains(
            java.nio.file.Paths.get(f.path).getFileName.toString) &&
            f.partVals.isDefined => f.partVals.get
        }.toVector.distinct
        val removeSpecId = l.currentSpecId
        val d = VDropAdd(removeNames.toVector.sorted, addSegs, removeTuples,
          removeSpecId)
        // exact result stats from metadata + the overlaid few
        val kept = cur.segs.filterNot(ls => d.drops(ls.seg))
        val parts = Vector.newBuilder[CommitStats]
        var exact = true
        kept.foreach { ls =>
          if (ls.dels.isEmpty && ls.patches.isEmpty) ls.seg match {
            case f: FileSeg if f.stats.isDefined => parts += f.stats.get
            case seg =>
              parts += CommitStats.of(
                MemStore.segRows(seg, curSchema), curSchema)
          } else {
            val acc = new CommitStats.Acc(curSchema)
            Snap(Vector(ls)).iterator(curSchema).foreach(acc.add)
            parts += acc.result
          }
        }
        add.foreach(f => if (f.stats.isDefined) parts += f.stats.get
          else exact = false)
        val st =
          if (exact) parts.result()
            .foldLeft(CommitStats.empty(curSchema))(CommitStats.merge)
          else CommitStats.of(Snap.applyDelta(cur, d).iterator(curSchema),
            curSchema)
        l.recordDropAdd(next, t, d.removeNames, add, st, d.removeTuples,
          d.removeSpecId)
        land(d, t, Some(st), curSchema)
      }
      maybeCheckpoint()
    }

  /** TRANSACTION-LEG commit ([[TableTxn]]): publish `files` as an
    * append at EXACTLY version `next` — no rebase; the multi-table
    * manifest recorded this slot, so an occupied slot (cross-process
    * racer) surfaces loudly for the coordinator to roll every leg
    * back. Caller holds this store's monitor via the coordinator's
    * canonical lock order. */
  private[sources] def commitFilesAt(next: Int, files: Seq[FileRef],
      cs: CommitStats, txnTag: Option[String] = None): Unit = synchronized {
    val l = log.getOrElse(throw new IllegalStateException(
      "commitFilesAt needs a durable log"))
    require(currentVersion == next - 1,
      s"transaction leg at version $next but table is at $currentVersion")
    val t = MemStore.nowMicros()
    // the tag rides IN the commit (the SetTransaction marker shape):
    // crash recovery tells OUR landed leg apart from a foreign commit
    // that happens to occupy the same slot
    val txn = txnTag.map(tag => (tag, 0L))
    l.recordFiles(next, FileCommit.Append, t, files, cs, txn = txn)
    land(VAppend(files.map(l.fileSeg).toVector), t,
      foldedStats(append = true, Some(cs)), curSchema, txn)
    // NO checkpoint here: a leg landing on the checkpoint cadence
    // would bake a not-yet-committed transaction into the cold-load
    // fast path — if the txn then rolls back (slot theft / crash),
    // the deleted commit would resurrect THROUGH the checkpoint. The
    // coordinator checkpoints after the manifest clears.
  }

  /** Post-transaction checkpoint (the one [[commitFilesAt]] skipped,
    * taken only once the transaction is durable). */
  private[sources] def checkpointIfDue(): Unit =
    synchronized { maybeCheckpoint() }

  /** INCREMENTAL-OPTIMIZE landing: the named (small / overlaid /
    * old-spec) files leave the snapshot, their freshly-written compact
    * replacements join — ONE atomic kind-6 commit flagged
    * `compaction`, `dataChange = false` (content identical: the change
    * feed and streaming sources skip it, and the commit reuses the
    * previous version's statistics — zero recomputation). Untouched
    * files are never named and pass through BYTE-IDENTICAL — the
    * O(dirty) maintenance cost that makes the verb schedulable at
    * 100 TB.
    *
    * CONCURRENCY: the compaction REBASES over interleaved APPENDS —
    * an append only adds files, so the rewrite's inputs (the named
    * files, their overlays, their replacement content) are untouched
    * and the drop-add lands on the new head exactly as it would have
    * serially; maintenance stays schedulable while ingest is live.
    * Anything else interleaving (row-level DML could overlay a named
    * file, another compaction could drop it, schema/spec changes
    * invalidate the rewrite) aborts loudly — rerun OPTIMIZE. */
  def compactFiles(removeNames: Set[String], add: Seq[FileRef],
      expectedVersion: Int): Unit = synchronized {
    val l = log.getOrElse(throw new IllegalStateException(
      "compactFiles needs a durable log"))
    def appendsOnly(ds: Seq[VDelta]): Boolean =
      ds.forall { case _: VAppend => true; case _ => false }
    if (currentVersion != expectedVersion &&
        !appendsOnly(deltasAfter(expectedVersion)))
      throw new java.util.ConcurrentModificationException(
        s"non-append commit(s) advanced version $expectedVersion -> " +
          s"$currentVersion under this compaction — rerun OPTIMIZE")
    publishWithRetry(l)(es => if (!es.forall {
        case f: FileCommit => f.mode == FileCommit.Append
        case _ => false
      })
      throw new java.util.ConcurrentModificationException(
        s"concurrent commits ${es.map(_.version).mkString(",")} conflict " +
          "with a compaction — rerun OPTIMIZE")) { next =>
      val t = MemStore.nowMicros()
      val d = VDropAdd(removeNames.toVector.sorted, add.map(l.fileSeg).toVector,
        Vector.empty, l.currentSpecId, compaction = true)
      // content identical by construction: the previous version's
      // stats ARE this version's stats
      val st = hist.last.stats.getOrElse(
        CommitStats.of(cur.iterator(curSchema), curSchema))
      l.recordDropAdd(next, t, d.removeNames, add, st,
        Nil, l.currentSpecId, compaction = true)
      land(d, t, Some(st), curSchema)
    }
    maybeCheckpoint()
  }

  /** Commit one row-level delta (the `WriteDelta` landing): positions
    * index the current snapshot's live ordering. Memory retains
    * O(delta), the durable commit file holds O(delta) bytes, and the
    * stats sidecar SELF-HEALS incrementally ([[CommitStats.applyDelta]]):
    * only columns whose removed extreme no added value reaches again
    * rescan, all of them in one pass that (on the file plane) reads
    * just those columns' pages ([[Snap.columns]] prunes the read). */
  def applyRowDelta(deletes: Seq[Long], updates: Seq[(Long, InternalRow)],
      inserts: Seq[InternalRow]): Unit = synchronized {
    // one attempt, re-runnable: a rebase over interleaved APPENDS is
    // sound (appends only extend the live ordering, so the delta's
    // positions still address the same rows); anything else aborts —
    // the positions were computed against a snapshot that no longer
    // exists (the write-write conflict every format refuses)
    def attempt(nextVer: Int): Unit = {
      val prev = cur
      val n = prev.count
      deletes.foreach(p => require(p >= 0 && p < n,
        s"delta delete position $p outside snapshot of $n"))
      updates.foreach { case (p, _) => require(p >= 0 && p < n,
        s"delta update position $p outside snapshot of $n") }
      val d = VRowDelta(deletes.toVector, updates.toVector, inserts.toVector)
      val next = Snap.applyDelta(prev, d)
      val t = MemStore.nowMicros()
      val st = hist.last.stats match {
        case Some(ps) =>
          val removedPos = deletes ++ updates.map(_._1)
          val pre = prev.rowsAt(removedPos, curSchema)
          CommitStats.applyDelta(ps, curSchema,
            removedPos.map(pre(_)), updates.map(_._2) ++ inserts,
            next.count, next.columns(curSchema, _))
        case None => CommitStats.of(next.iterator(curSchema), curSchema)
      }
      log.foreach(_.recordDelta(nextVer, t, d, st))
      land(d, t, Some(st), curSchema)
    }
    log match {
      case Some(l) =>
        publishWithRetry(l)(es => if (!appendsOnly(es))
          throw new java.util.ConcurrentModificationException(
            s"concurrent non-append commits ${es.map(_.version).mkString(",")} " +
              "shifted row positions under this delta — recompute"))(attempt)
      case None => attempt(currentVersion + 1)
    }
    maybeCheckpoint()
  }

  /** ALTER TABLE ADD COLUMN: append-only schema evolution as its own
    * commit version (rows unchanged; existing versions read the new
    * column as NULL). Write-ahead like data commits. */
  def evolveSchema(newSchema: StructType): Unit = synchronized {
    def attempt(nextVer: Int): Unit = {
      require(ColumnMapping.compatible(curSchema, newSchema) &&
        newSchema != curSchema,
        "schema evolution must be append-only or metadata-only " +
          "(ADD / RENAME / DROP COLUMN)")
      val t = MemStore.nowMicros()
      log.foreach(_.recordSchema(nextVer, t, newSchema))
      // historical versions keep their stats under their own names
      landSchema(t, newSchema)
      renameFileStats(curSchema, newSchema)
      curSchema = newSchema
    }
    log match {
      case Some(l) =>
        // rebase over appends; a concurrent ALTER/replace aborts
        publishWithRetry(l)(es => if (!appendsOnly(es))
          throw new java.util.ConcurrentModificationException(
            "concurrent non-append commits conflict with ALTER TABLE"))(
          attempt)
      case None => attempt(currentVersion + 1)
    }
    maybeCheckpoint()
  }
  /** (version, commit micros, row count) per retained version. */
  def historyRows: Seq[(Long, Long, Long)] = synchronized {
    hist.indices.map(i => ((base + i).toLong, hist(i).tsMicros, hist(i).count))
  }

  /** CHANGE DATA FEED over the retained delta history (the Delta
    * `table_changes(from, to)` surface): one (change_type, version,
    * row) triple per changed row — appends emit `insert`, row-level
    * deltas emit `delete` (the pre-image batch-resolved from the
    * previous snapshot at the recorded positions) and
    * `update_preimage` / `update_postimage` pairs, replaces (INSERT
    * OVERWRITE / RESTORE) emit a full delete+insert sweep (the Delta
    * overwrite convention), schema markers emit nothing. This falls
    * straight out of storing history AS deltas — no diffing of
    * snapshots, cost O(changes in range) plus the pre-image
    * resolution's one pass per touched file. Returned rows are stable
    * copies. */
  def changes(fromV: Int, toV: Int): Seq[(String, Long, InternalRow)] =
    synchronized {
      // fromV == base is allowed: the oldest retained version streams
      // as pure inserts of its consolidated snapshot (folded from the
      // empty table) — the initial-load convention a streaming reader
      // starting before retention uses. Anything earlier is pruned.
      require(fromV >= base,
        s"changes from version $fromV — history is pruned before " +
          s"version $base")
      require(fromV <= toV && toV <= currentVersion,
        s"change range [$fromV, $toV] outside retained " +
          s"window [$base, $currentVersion]")
      var prev = hist.iterator.take(fromV - base).map(_.delta)
        .foldLeft(Snap.empty)(Snap.applyDelta)
      val out = Vector.newBuilder[(String, Long, InternalRow)]
      def emit(ct: String, v: Int, rows: Iterator[InternalRow]): Unit =
        rows.foreach(r => out += ((ct, v.toLong, r.copy())))
      var v = fromV
      while (v <= toV) {
        val d = hist(v - base).delta
        d match {
          case VAppend(segs) =>
            segs.foreach(s => emit("insert", v, MemStore.segRows(s, curSchema)))
          case VBase(segs) =>
            emit("delete", v, prev.iterator(curSchema))
            segs.foreach(s => emit("insert", v, MemStore.segRows(s, curSchema)))
          case VRewrite(_) => () // dataChange = false: no feed rows
          case da: VDropAdd if da.compaction =>
            () // incremental OPTIMIZE: content-identical, no feed rows
          case da: VDropAdd =>
            prev.segs.foreach { ls =>
              if (da.drops(ls.seg))
                emit("delete", v, Snap(Vector(ls)).iterator(curSchema))
            }
            da.add.foreach(sg =>
              emit("insert", v, MemStore.segRows(sg, curSchema)))
          case VRowDelta(dels, upds, ins) =>
            val pre = prev.rowsAt(dels ++ upds.map(_._1), curSchema)
            dels.foreach(p => out += (("delete", v.toLong, pre(p))))
            upds.foreach { case (p, r) =>
              out += (("update_preimage", v.toLong, pre(p)))
              out += (("update_postimage", v.toLong, r))
            }
            ins.foreach(r => out += (("insert", v.toLong, r)))
          case VMarker => ()
          case _: VSpecChange => ()
        }
        prev = Snap.applyDelta(prev, d)
        v += 1
      }
      out.result()
    }

  /** The INSERTED-row segments of versions [fromV, toV] — what the
    * streaming source delivers per micro-batch (the ignore-changes
    * posture). Bulk versions hand back their segment REFERENCES, so
    * an initial load of a huge table plans file splits instead of
    * materializing rows; row-level inserts are their O(delta) heap
    * tail. */
  /** Rows INSERTED at exactly version `v` (the streaming-source row
    * grain admission control budgets against). */
  def insertRowsAt(v: Int): Long = synchronized {
    hist.lift(v - base).map(_.delta).map {
      case VAppend(segs) => segs.iterator.map(_.count).sum
      case VBase(segs) => segs.iterator.map(_.count).sum
      case da: VDropAdd =>
        if (da.compaction) 0L else da.add.iterator.map(_.count).sum
      case VRowDelta(_, _, ins) => ins.length.toLong
      case _ => 0L
    }.getOrElse(0L)
  }

  def insertSegsBetween(fromV: Int, toV: Int): Vector[RowSeg] =
    synchronized {
      require(fromV >= base,
        s"changes from version $fromV — history is pruned before " +
          s"version $base")
      require(fromV <= toV && toV <= currentVersion,
        s"change range [$fromV, $toV] outside retained " +
          s"window [$base, $currentVersion]")
      hist.slice(fromV - base, toV - base + 1).map(_.delta).flatMap {
        case VAppend(segs) => segs
        case VBase(segs) => segs
        // the overwrite's fresh rows; a COMPACTION's re-laid files are
        // NOT fresh rows — re-serving them would duplicate the stream
        case da: VDropAdd if !da.compaction => da.add
        case VRowDelta(_, _, ins) if ins.nonEmpty => Vector(MemSeg(ins))
        case _ => Vector.empty // markers and dataChange-false rewrites
      }
    }

  /** The change feed in its OUTPUT layout — `(_change_type,
    * _commit_version, <table columns>)` rows, stable copies, ready
    * for the `.changes` metadata table's scan. Prefix-arity history
    * pads NULL like every read. */
  def changeRows(fromV: Int, toV: Int): Vector[InternalRow] = {
    val sch = curSchema
    val l2p = ColumnMapping.logicalToPhys(sch)
    changes(fromV, toV).iterator.map { case (ct, v, r) =>
      // feed rows surface the LOGICAL columns: project each physical
      // slot of interest (dropped slots never appear in the feed)
      val vals = new Array[Any](2 + l2p.length)
      vals(0) = org.apache.spark.unsafe.types.UTF8String.fromString(ct)
      vals(1) = v
      var i = 0
      while (i < l2p.length) {
        val pIdx = l2p(i)
        vals(2 + i) =
          if (pIdx >= r.numFields || r.isNullAt(pIdx)) null
          else r.get(pIdx, sch(pIdx).dataType)
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    }.toVector
  }

  /** Expire every snapshot before `before` (retention): the oldest
    * retained version consolidates into a self-contained replace
    * commit, the log deletes the pruned commit files, and data files
    * no retained commit references are PHYSICALLY deleted (the vacuum
    * half). Reads of expired versions fail loudly thereafter.
    *
    * On the durable plane the consolidation is BY REFERENCE whenever
    * it can be ([[consolidatedByReference]]: every live segment an
    * overlay-free file of this table under the current spec, exact
    * stats known — e.g. right after OPTIMIZE): the replace commit
    * names those same files, so no row is read or written. Any other
    * snapshot streams driver-side (O(1) heap) into fresh files
    * ([[writeSnapFile]]); a cluster deployment would distribute that
    * as a compaction job. */
  def expireBefore(before: Int): Unit = synchronized {
    require(before > base && before <= currentVersion,
      s"expireBefore($before): retained window is [$base, $currentVersion]")
    // tagged versions are PINNED: expiring one would leave a named
    // ref pointing at vanished files — refuse loudly (the Iceberg
    // expire_snapshots posture: refs retain their snapshots)
    val pinned = refsV.filter(_._2 < before)
    if (pinned.nonEmpty)
      throw new UnsupportedOperationException(
        s"expireBefore($before): version(s) " +
          pinned.toSeq.sorted.map { case (n, v) => s"$v (tag '$n')" }
            .mkString(", ") +
          " are pinned by tags — DROP TAG first or expire above them")
    val i = before - base
    val snap = versionSnapshot(before)
    val retained = hist.drop(i + 1).map(_.delta)
    // a retained partition overwrite re-applies on top of the
    // consolidated base, which is freshly NAMED whenever it had to be
    // rewritten: only the overwrite's partition-tuple form is sure to
    // match there. Name-only drop-adds (pre-tuple logs) would silently
    // resurrect the overwritten partition — refuse, whichever way the
    // base consolidates.
    retained.foreach {
      case da: VDropAdd if da.compaction =>
        // a compaction names files of the pre-consolidation layout;
        // over a rewritten consolidated base its removes match
        // nothing and its adds would DUPLICATE rows — the cut must
        // not pass below it
        throw new UnsupportedOperationException(
          s"expireBefore($before): a retained compaction commit names " +
            "pre-consolidation files — expire at or above it")
      case da: VDropAdd if da.removeNames.nonEmpty &&
          da.removeTuples.isEmpty =>
        throw new UnsupportedOperationException(
          s"expireBefore($before): a retained partition overwrite " +
            "records file names only (pre-tuple log format); it cannot " +
            "re-apply over consolidated files — expire at or above it")
      case da: VDropAdd if log.exists(_.currentSpecId != da.removeSpecId) =>
        // consolidation writes CURRENT-spec tuples; a retained
        // overwrite recorded under an older spec would match nothing
        throw new UnsupportedOperationException(
          s"expireBefore($before): a retained partition overwrite was " +
            "committed under an evolved-away partition spec — expire at " +
            "or above it (or OPTIMIZE first)")
      case _ => ()
    }
    // a retained row-level delta addresses POSITIONS of the live
    // ordering at its commit time: the consolidated base must
    // reproduce version `before`'s live order EXACTLY (per-tuple
    // merging may not reorder interleaved partitions)
    val preserveOrder = retained.exists {
      case _: VRowDelta => true
      case _ => false
    }
    val (consolidated, cs) = log match {
      case Some(l) =>
        val (files, cs) = consolidatedByReference(l, snap, hist(i))
          .getOrElse(writeSnapFile(l, snap, s"base-v$before", preserveOrder))
        val newBase = VBase(files.map(l.fileSeg).toVector)
        val referenced =
          (newBase +: retained).flatMap(MemStore.fileNamesOf).toSet
        // the pruned prefix's files are log-owned: vacuum them NOW;
        // anything else unreferenced in data/ may be an in-flight
        // writer's stream and only falls past the grace horizon
        val prunedNamed = hist.take(i + 1)
          .flatMap(r => MemStore.fileNamesOf(r.delta)).toSet -- referenced
        l.expireBefore(before, hist(i).tsMicros, files, cs, referenced,
          prunedNamed)
        (newBase, cs)
      case None =>
        val rows = snap.iterator(curSchema).toVector // heap segs: stable
        (VBase(Vector(MemSeg(rows))), CommitStats.of(rows, curSchema))
    }
    // the consolidated base is a replace under the current schema
    hist = hist.drop(i).updated(0, hist(i).copy(delta = consolidated,
      stats = Some(cs), schema = curSchema))
    // the LIVE view must re-base onto the consolidated segments — its
    // old segment references point at files the vacuum just deleted.
    // The consolidated base preserves the live ordering (it IS version
    // `before`'s live order), so the retained suffix deltas re-overlay
    // to the identical state; O(window) metadata, no rows touched for
    // file segments.
    cur = hist.iterator.map(_.delta).foldLeft(Snap.empty)(Snap.applyDelta)
    base = before
    // pre-expiry checkpoints were invalidated (they captured pruned
    // versions); re-seed one so cold loads stay checkpoint-fast
    maybeCheckpoint(force = true)
  }

  /** `snap`'s own files as a consolidated base, when that is exact:
    * every live segment is an overlay-free [[FileSeg]] in this table's
    * data directory under the current spec id, and the version's stats
    * are known (returned under the current schema's names). Overlay-free
    * file segments ARE the live order, so retained row-level deltas
    * re-apply unchanged; None = the snapshot must be rewritten
    * ([[writeSnapFile]]): dels or patches, a heap insert tail, an old
    * spec, or no stats. */
  private def consolidatedByReference(l: CommitLog, snap: Snap,
      version: Retained): Option[(Seq[FileRef], CommitStats)] =
    version.stats.flatMap { st =>
      val cs = CommitStats.rekey(st, version.schema, curSchema)
      val refs = snap.segs.map {
        case LiveSeg(f: FileSeg, dels, patches) if dels.isEmpty &&
            patches.isEmpty && f.specId == l.currentSpecId =>
          val name = java.nio.file.Paths.get(f.path).getFileName.toString
          if (l.dataFilePath(name) == f.path)
            Some(FileRef(name, f.count, f.stats, f.partVals, f.specId))
          else None
        case _ => None
      }
      if (refs.forall(_.isDefined)) Some((refs.flatten, cs)) else None
    }

  /** RESTORE version `v` as a NEW replace commit. On the durable
    * plane the restored snapshot streams into a fresh data file (the
    * overlaid view must be captured — reusing old file references
    * would alias the vacuum's reference counting). */
  def restoreVersion(v: Int): Unit = synchronized {
    val snap = versionSnapshot(v)
    log match {
      case Some(l) =>
        val (files, cs) = writeSnapFile(l, snap, s"restore-v$v")
        commitFiles(files, cs, FileCommit.Replace)
      case None =>
        replace(snap.iterator(curSchema).toVector)
    }
  }

  /** Stream a snapshot's live rows into fresh data files (expiry
    * consolidation / RESTORE) through one [[DataFileWriter]].
    * PARTITION-AWARE: a partitioned table consolidates into one file
    * PER PARTITION TUPLE (an open writer per tuple — O(partitions)
    * driver memory), so partition pruning and storage-partitioned joins
    * survive retention; an unpartitioned table streams into one file.
    *
    * `preserveOrder` (expiry with RETAINED row-level deltas above the
    * consolidation point): per-tuple merging would reorder rows
    * whenever partitions interleave across segments, and the retained
    * deltas' recorded positions would then re-apply against the WRONG
    * rows. In that mode a new file is cut at every partition-tuple
    * CHANGE along the live order — each file still single-tuple (so
    * pruning/SPJ survive), row order bit-identical to the live view;
    * the extra files are run-length-of-interleave many and OPTIMIZE
    * folds them later. */
  private def writeSnapFile(l: CommitLog, snap: Snap,
      tag: String,
      preserveOrder: Boolean = false): (Seq[FileRef], CommitStats) = {
    val w = new DataFileWriter(l.dataDir.toString, curSchema, partSpec,
      l.currentSpecId, tag, preserveOrder)
    val total = new CommitStats.Acc(curSchema)
    snap.iterator(curSchema).foreach { r => w.write(r); total.add(r) }
    (w.close(), total.result)
  }

  /** Write a checkpoint every [[MemStore.CheckpointEvery]] commits
    * (and forced after expiry): the whole retained-window metadata in
    * one file, so a cold load replays checkpoint + suffix instead of
    * every retained commit. O(window metadata) per cadence — file
    * references and O(delta) rows, never bulk data. */
  private def maybeCheckpoint(force: Boolean = false): Unit =
    log.foreach { l =>
      if (force ||
          (currentVersion > 0 && currentVersion % MemStore.CheckpointEvery == 0))
        l.writeCheckpoint(Checkpoint(base, hist))
    }

  /** Install a loaded checkpoint (cold-open fast path). */
  private def install(c: Checkpoint): Unit = {
    base = c.base
    hist = c.versions
    cur = hist.iterator.map(_.delta).foldLeft(Snap.empty)(Snap.applyDelta)
  }

  /** Replay one commit (no re-logging). After an expiry the first
    * retained commit is a self-contained replace with version > 1: it
    * re-bases the store. */
  private def fold(entry: LogEntry): Unit = {
    val ver = entry.version
    if (base == 0 && hist.length == 1 && ver > 1) {
      val selfContained = entry match {
        case d: DataCommit => d.replace
        case f: FileCommit => f.replace
        case _ => false
      }
      require(selfContained,
        s"corrupt log: first retained commit $ver is not self-contained")
      base = ver
      hist = Vector.empty
    } else require(ver == currentVersion + 1,
      s"corrupt log: commit $ver after version $currentVersion")
    // a version keeps its predecessor's schema until a schema commit;
    // sidecars decode under the latest schema, a version's stats keep
    // its own names
    val schema = hist.lastOption.fold(curSchema)(_.schema)
    def own(s: Option[CommitStats]) =
      s.map(CommitStats.rekey(_, log.get.schema, schema))
    entry match {
      case DataCommit(_, replace, t, rows, s) =>
        val segs = Vector(MemSeg(rows))
        land(if (replace) VBase(segs) else VAppend(segs), t,
          foldedStats(!replace, own(s)), schema)
      case FileCommit(_, mode, t, files, s, txn) =>
        land(VDelta.ofFiles(mode, files.map(log.get.fileSeg)), t,
          foldedStats(mode == FileCommit.Append, own(s)), schema, txn)
      case DropAddCommit(_, t, removeNames, add, s, removeTuples,
          removeSpecId, compaction) =>
        land(VDropAdd(removeNames, add.map(log.get.fileSeg), removeTuples,
          removeSpecId, compaction), t, own(s), schema)
      case SpecCommit(_, t, specId, spec) =>
        // align the registry (idempotent — self-heals the crash
        // window between marker publication and the registry rewrite)
        log.foreach(_.ensureSpec(specId, spec))
        land(VSpecChange(specId, spec), t, hist.last.stats, schema)
      case DeltaCommit(_, t, deletes, updates, inserts, s) =>
        // the delta sidecar carries the RESULT snapshot's stats (a
        // delete can't be folded forward), so it re-seeds like replace
        land(VRowDelta(deletes, updates, inserts), t, own(s), schema)
      case SchemaCommit(_, t, sc) =>
        // the marker reserves its version and records the schema it
        // introduced; expiry always consolidates into a DATA replace,
        // so a marker never opens a pruned-prefix log
        landSchema(t, sc)
    }
  }
}

private[sources] object MemStore {
  def nowMicros(): Long = System.currentTimeMillis() * 1000L

  /** Commits between checkpoints. */
  val CheckpointEvery: Int = 16

  /** Rebuild the retained version history from a durable log — the
    * restart path. O(commits) METADATA: file-reference commits replay
    * without opening a single data file. The rebuilt store keeps
    * logging to the same log. */
  def replayFrom(log: CommitLog): MemStore = {
    val store = new MemStore(log.schema, Some(log), log.createdMicros)
    val after = log.readLatestCheckpoint() match {
      case Some(c) => store.install(c); c.version
      case None => -1
    }
    log.replayAfter(after).foreach(store.fold)
    store
  }

  /** The CDF output schema: change metadata + the table's columns. */
  def changeSchema(schema: StructType): StructType = {
    import org.apache.spark.sql.types._
    StructType(
      StructField("_change_type", StringType, nullable = false) +:
        StructField("_commit_version", LongType, nullable = false) +:
        schema.fields)
  }

  /** Raw rows of one segment (no overlay — entry content, not live
    * view), read as [[Snap.iterator]] reads: decoded file rows are
    * volatile, heap rows stable. */
  def segRows(seg: RowSeg, schema: StructType): Iterator[InternalRow] =
    Snap.base(Vector(seg)).iterator(schema)

  def fileNamesOf(d: VDelta): Seq[String] = {
    def names(segs: Vector[RowSeg]): Seq[String] = segs.collect {
      case FileSeg(path, _, _, _, _) =>
        java.nio.file.Paths.get(path).getFileName.toString
    }
    d match {
      case VBase(segs) => names(segs)
      case VAppend(segs) => names(segs)
      case VRewrite(segs) => names(segs)
      case da: VDropAdd => names(da.add)
      case _ => Seq.empty
    }
  }
}

/** A table handle; `pinned` carries a historical snapshot VIEW for
  * time travel reads (writes always address the LIVE store — Spark
  * never routes DML through a time-travel relation). Exposes the
  * `__pos` row-position METADATA column ([[MemTable.PosCol]]) — the
  * row id the delta protocol addresses deletes/updates by, the
  * single-store analog of Iceberg's `(_file, _pos)`. */
/** A time-travel pin: version, its snapshot view, and the stats that
  * were current AT that version — captured atomically
  * ([[MemStore.versionState]]) so no later store mutation can pair
  * them inconsistently. */
private[sources] final case class Pinned(version: Int, snap: Snap,
    stats: Option[CommitStats], phys: StructType)

private[sources] final class MemTable(tableName: String, store: MemStore,
    pinned: Option[Pinned] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  override def name(): String = tableName
  /** The backing store ([[MergeSchemaRule]] evolves it in analysis). */
  private[sources] def memStore: MemStore = store
  /** Pinned (time-travel) handles surface the schema AS OF that
    * version — a pre-rename pin shows the pre-rename names. */
  override def schema(): StructType =
    pinned.map(p => ColumnMapping.logical(p.phys)).getOrElse(store.schema)
  /** The table's partition transforms — what the analyzer validates
    * `PARTITION (...)` clauses against and `DESCRIBE` shows. */
  override def partitioning(): Array[Transform] =
    store.partSpec.map {
      case PIdentity(c) => Expressions.identity(c)
      case PDays(c) => Expressions.days(c)
      case PBucket(n, c) => Expressions.bucket(n, c)
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // `MERGE ... WITH SCHEMA EVOLUTION`: Spark's own
      // ResolveMergeIntoSchemaEvolution computes the ADD COLUMNs from
      // the source-only columns and routes them through alterTable —
      // engaged ONLY by the explicit clause (never silent), unlike
      // ACCEPT_ANY_SCHEMA which this table deliberately refuses
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = MemTable.PosCol
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row position in the scanned snapshot (delta row id)"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // a LIVE table can also be read as a stream (version offsets);
    // time-travel handles are batch-only by construction
    new MemScanBuilder(store, pinned,
      streamStore = if (pinned.isEmpty) Some(store) else None,
      options = options)

  /** Plain writes append; `INSERT OVERWRITE` routes through the
    * `SupportsTruncate` hook (the unpartitioned-table overwrite
    * contract) and commits the new row set as ONE replace version —
    * atomic, and a single entry in the snapshot history. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // defense-in-depth: Spark's output resolution aligned the frame
    // to the table schema (MergeSchemaRule may have evolved it first);
    // any path that slips past with a mismatched layout must fail
    // LOUDLY here rather than write misaligned files
    val incoming = info.schema()
    val logical = store.schema
    require(incoming.length == logical.length &&
      incoming.fields.zip(logical.fields).forall { case (a, b) =>
        a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType },
      s"write schema ${incoming.simpleString} does not match table " +
        s"schema ${logical.simpleString}")
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var replaceAll = false
      private var owFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] =
        None
      private var dynamic = false
      // writeTo(...).option("dataChange", "false"): the OPTIMIZE
      // landing — content-identical re-layout the change feed skips
      private val dataChange = info.options.getBoolean("dataChange", true)
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      /** `INSERT OVERWRITE ... PARTITION (static mode)`: Spark hands
        * the partition predicate; AlwaysTrue degenerates to the full
        * replace. */
      override def overwrite(filters: Array[org.apache.spark.sql.sources
          .Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(
            _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          replaceAll = true
        else owFilters = Some(filters.toSeq)
        this
      }
      /** Dynamic partition-overwrite mode: replace exactly the
        * partitions the incoming data touches. */
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true
        this
      }
      // incremental-OPTIMIZE landing ([[MemCatalog.optimizeTable]]):
      // the append-shaped write whose commit swaps the named dirty
      // files for the freshly-written compact ones (compactFiles)
      private val compact: Option[(Set[String], Int)] =
        Option(info.options.get("graft.compact.remove")).map(names =>
          (names.split(',').toSet,
            info.options.get("graft.compact.expect").toInt))
      // multi-table transaction leg ([[TableTxn]]): the commit PARKS
      // under the transaction instead of publishing
      private val txnId: Option[String] =
        Option(info.options.get("graft.txn.id"))
      override def build(): Write =
        if (owFilters.isDefined || dynamic)
          new MemOverwriteWrite(store, owFilters, dynamic)
        else new MemWrite(store,
          mode =
            if (!replaceAll) FileCommit.Append
            else if (dataChange) FileCommit.Replace
            else FileCommit.Rewrite,
          queryId = info.queryId(),
          compact = compact,
          txnId = txnId)
    }
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new MemDeltaOperation(store, info.command)
}

private[sources] object MemTable {
  /** Metadata column name: the row's position in the scanned
    * snapshot. Double-underscored to stay clear of user columns. */
  val PosCol = "__pos"
}

/** A staged CTAS/RTAS table ([[MemCatalog.stageCreate]]): the normal
  * [[MemTable]] write surface over a store whose log lives in the
  * invisible staging directory; `commitStagedChanges` publishes by
  * directory move, `abortStagedChanges` deletes the staging dir —
  * either way, the final location only ever holds a complete table. */
private[sources] final class MemStagedTable(inner: MemTable,
    commit: () => Unit, abort: () => Unit)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = commit()
  override def abortStagedChanges(): Unit = abort()
}

/** Filter-pushdown support for the catalog scan: the translatable
  * subset (comparisons/IS NULL/IN on atomic orderable columns with
  * exact-type literals) evaluates INSIDE the scan, and a predicate the
  * snapshot statistics CONTRADICT (e.g. `k > max(k)`) short-circuits
  * to an empty scan without touching a single row — the catalog-grain
  * zone-map skip. Anything else is declined and Spark filters above
  * the scan; handled filters are exact, so Spark drops its own
  * FilterExec for them. */
private[sources] object MemFilters {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  /** Exact-type literal -> Catalyst internal value; None = decline.
    * Strict on numeric classes: a cross-type literal means Catalyst
    * cast the column, and such predicates are never translated — a
    * lenient narrowing here would silently change semantics. */
  private[sources] def internal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (LongType, x: java.lang.Long) => Some(x)
    case (IntegerType, x: java.lang.Integer) => Some(x)
    case (ShortType, x: java.lang.Short) => Some(x)
    case (ByteType, x: java.lang.Byte) => Some(x)
    case (BooleanType, x: java.lang.Boolean) => Some(x)
    case (StringType, x: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(x))
    // datetime literals arrive as java.sql types (or java.time under
    // the Java-8 API conf); internal form is days / epoch micros
    case (DateType, x: java.sql.Date) =>
      Some(Int.box(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(x)))
    case (DateType, x: java.time.LocalDate) =>
      Some(Int.box(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(x)))
    case (TimestampType, x: java.sql.Timestamp) =>
      Some(Long.box(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(x)))
    case (TimestampType, x: java.time.Instant) =>
      Some(Long.box(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(x)))
    case (TimestampNTZType, x: java.time.LocalDateTime) =>
      Some(Long.box(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(x)))
    case _ => None
  }

  /** Natural order of two internal values of one type. Strings compare
    * by `binaryCompare`: Spark's `UTF8String.compareTo` is the same
    * order but probes the process environment on every call (its
    * testing guard), which dominated per-row stats folding. */
  private[sources] def cmp(a: Any, b: Any): Int = a match {
    case u: org.apache.spark.unsafe.types.UTF8String =>
      u.binaryCompare(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  private def fieldIdx(schema: StructType, name: String): Option[Int] =
    schema.fields.indexWhere(_.name == name) match {
      case -1 => None
      case i => Some(i)
    }

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v) => lit(schema, a, v).isDefined
    case EqualNullSafe(a, null) => fieldIdx(schema, a).isDefined
    case EqualNullSafe(a, v) => lit(schema, a, v).isDefined
    case GreaterThan(a, v) => lit(schema, a, v).isDefined
    case GreaterThanOrEqual(a, v) => lit(schema, a, v).isDefined
    case LessThan(a, v) => lit(schema, a, v).isDefined
    case LessThanOrEqual(a, v) => lit(schema, a, v).isDefined
    case In(a, vs) => vs.nonEmpty && vs.forall(v => lit(schema, a, v).isDefined)
    case IsNull(a) => fieldIdx(schema, a).isDefined
    case IsNotNull(a) => fieldIdx(schema, a).isDefined
    case _ => false
  }

  private def lit(schema: StructType, name: String, v: Any): Option[(Int, Any)] =
    fieldIdx(schema, name).flatMap(i =>
      internal(schema(i).dataType, v).map(iv => (i, iv)))

  /** Pre-compiled conjunction — the per-ROW hot path of the columnar
    * selection and the boundary decodes: field indices resolve and
    * literals convert ONCE per reader instead of once per row per
    * filter (a string equality was paying a name lookup plus a
    * String->UTF8String conversion for every one of millions of
    * rows). Semantics are EXACTLY [[eval]]'s — each case mirrors the
    * same null discipline and the same strict literal translation. */
  def compile(schema: StructType, filters: Seq[Filter])
      : InternalRow => Boolean = {
    def value(r: InternalRow, i: Int): Any =
      if (i >= r.numFields || r.isNullAt(i)) null
      else r.get(i, schema(i).dataType)
    def cmpTest(a: String, v: Any,
        ok: Int => Boolean): InternalRow => Boolean =
      lit(schema, a, v) match {
        case Some((i, iv)) =>
          r => { val x = value(r, i); x != null && ok(cmp(x, iv)) }
        case None => _ => false
      }
    val ps: Array[InternalRow => Boolean] = filters.iterator.map[
        InternalRow => Boolean] {
      case EqualTo(a, v) => cmpTest(a, v, _ == 0)
      case EqualNullSafe(a, null) => fieldIdx(schema, a) match {
        case Some(i) => r => value(r, i) == null
        case None => _ => false
      }
      case EqualNullSafe(a, v) => cmpTest(a, v, _ == 0)
      case GreaterThan(a, v) => cmpTest(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => cmpTest(a, v, _ >= 0)
      case LessThan(a, v) => cmpTest(a, v, _ < 0)
      case LessThanOrEqual(a, v) => cmpTest(a, v, _ <= 0)
      case In(a, vs) => fieldIdx(schema, a) match {
        case Some(i) =>
          // translate each element once; null / cross-type elements
          // contribute no match — same as eval's per-element decline
          val ivs = vs.toVector.flatMap(v =>
            internal(schema(i).dataType, v))
          r => {
            val x = value(r, i)
            x != null && ivs.exists(iv => cmp(x, iv) == 0)
          }
        case None => _ => false
      }
      case IsNull(a) => fieldIdx(schema, a) match {
        case Some(i) => r => value(r, i) == null
        case None => _ => false
      }
      case IsNotNull(a) => fieldIdx(schema, a) match {
        case Some(i) => r => value(r, i) != null
        case None => _ => false
      }
      case other =>
        // unreachable: only supported() filters push. FAIL LOUDLY if
        // gate-keeping ever regresses — a silent `false` here would
        // DROP rows, turning a planner bug into wrong results
        throw new IllegalStateException(
          s"MemFilters.compile: unsupported filter reached the " +
            s"compiled hot path: $other")
    }.toArray
    r => {
      var i = 0
      var ok = true
      while (ok && i < ps.length) { ok = ps(i)(r); i += 1 }
      ok
    }
  }

  /** SQL semantics: a comparison with a NULL row value is not TRUE —
    * the row drops. Prefix-arity rows read appended columns as NULL.
    * `schema` is the LAYOUT of `r` (the pruned file read schema for
    * file rows, the table schema for heap rows) — resolution is by
    * column name, so both layouts evaluate identically. */
  def eval(schema: StructType, filters: Seq[Filter], r: InternalRow): Boolean = {
    def value(i: Int): Any =
      if (i >= r.numFields || r.isNullAt(i)) null
      else r.get(i, schema(i).dataType)
    filters.forall {
      case EqualTo(a, v) => test(schema, a, v, value, _ == 0)
      case EqualNullSafe(a, v) =>
        // null-safe equality: NULL <=> NULL is true, NULL <=> x false
        if (v == null) fieldIdx(schema, a).exists(i => value(i) == null)
        else test(schema, a, v, value, _ == 0)
      case GreaterThan(a, v) => test(schema, a, v, value, _ > 0)
      case GreaterThanOrEqual(a, v) => test(schema, a, v, value, _ >= 0)
      case LessThan(a, v) => test(schema, a, v, value, _ < 0)
      case LessThanOrEqual(a, v) => test(schema, a, v, value, _ <= 0)
      case In(a, vs) => vs.exists(v => test(schema, a, v, value, _ == 0))
      case IsNull(a) => fieldIdx(schema, a).exists(i => value(i) == null)
      case IsNotNull(a) => fieldIdx(schema, a).exists(i => value(i) != null)
      case _ => false // unreachable: only supported() filters are pushed
    }
  }

  private def test(schema: StructType, a: String, v: Any, value: Int => Any,
      ok: Int => Boolean): Boolean =
    lit(schema, a, v) match {
      case Some((i, iv)) =>
        val x = value(i)
        x != null && ok(cmp(x, iv))
      case None => false
    }

  /** True only when the snapshot statistics PROVE the conjunction is
    * empty (min/max tracked, every matching value outside the range,
    * or the null/non-null population is zero) — then the scan serves
    * empty without materializing rows. Conservative: unknown = false. */
  def contradictsStats(stats: Option[CommitStats], schema: StructType,
      filters: Seq[Filter]): Boolean = stats.exists { st =>
    filters.exists {
      case EqualTo(a, v) => outside(st, schema, a, v, eqOnly = true)
      case EqualNullSafe(a, null) =>
        st.cols.get(a).exists(_.nulls == 0) && st.count > 0
      case EqualNullSafe(a, v) => outside(st, schema, a, v, eqOnly = true)
      case GreaterThan(a, v) => boundDead(st, schema, a, v)(
        (mx, iv) => cmp(mx, iv) <= 0)
      case GreaterThanOrEqual(a, v) => boundDead(st, schema, a, v)(
        (mx, iv) => cmp(mx, iv) < 0)
      case LessThan(a, v) => boundDeadMin(st, schema, a, v)(
        (mn, iv) => cmp(mn, iv) >= 0)
      case LessThanOrEqual(a, v) => boundDeadMin(st, schema, a, v)(
        (mn, iv) => cmp(mn, iv) > 0)
      case In(a, vs) => vs.forall(v => outside(st, schema, a, v, eqOnly = true))
      case IsNull(a) =>
        st.cols.get(a).exists(_.nulls == 0) && st.count > 0
      case IsNotNull(a) =>
        st.cols.get(a).exists(c => c.nulls == st.count)
      case _ => false
    }
  }

  /** True only when the statistics PROVE every row of the population
    * satisfies the conjunction — the dual of [[contradictsStats]],
    * what lets COUNT/MIN/MAX serve off metadata UNDER a pushed
    * predicate for fully-inside files/row-groups. A NULL comparison
    * is not TRUE, so any null in a referenced column disproves
    * all-rows-match (null counts are exact in both the commit-log and
    * parquet-footer stats). Conservative: unknown = false. */
  def provesAll(stats: Option[CommitStats], schema: StructType,
      filters: Seq[Filter]): Boolean = stats.exists { st =>
    st.count > 0 && filters.forall {
      case EqualTo(a, v) => allSat(st, schema, a, v)(
        (mn, mx, iv) => cmp(mn, iv) == 0 && cmp(mx, iv) == 0)
      case EqualNullSafe(a, null) =>
        st.cols.get(a).exists(_.nulls == st.count)
      case EqualNullSafe(a, v) => allSat(st, schema, a, v)(
        (mn, mx, iv) => cmp(mn, iv) == 0 && cmp(mx, iv) == 0)
      case GreaterThan(a, v) => allSat(st, schema, a, v)(
        (mn, _, iv) => cmp(mn, iv) > 0)
      case GreaterThanOrEqual(a, v) => allSat(st, schema, a, v)(
        (mn, _, iv) => cmp(mn, iv) >= 0)
      case LessThan(a, v) => allSat(st, schema, a, v)(
        (_, mx, iv) => cmp(mx, iv) < 0)
      case LessThanOrEqual(a, v) => allSat(st, schema, a, v)(
        (_, mx, iv) => cmp(mx, iv) <= 0)
      case In(a, vs) => vs.exists(v => allSat(st, schema, a, v)(
        (mn, mx, iv) => cmp(mn, iv) == 0 && cmp(mx, iv) == 0))
      case IsNull(a) => st.cols.get(a).exists(_.nulls == st.count)
      case IsNotNull(a) => st.cols.get(a).exists(_.nulls == 0)
      case _ => false
    }
  }

  /** All-rows-satisfy test over tracked min/max with ZERO nulls in
    * the referenced column (a null row never satisfies). */
  private def allSat(st: CommitStats, schema: StructType, a: String,
      v: Any)(ok: (Any, Any, Any) => Boolean): Boolean =
    tracked(st, schema, a, v).exists { case (c, iv) =>
      c.nulls == 0 && ((c.min, c.max) match {
        case (Some(mn), Some(mx)) => ok(mn, mx, iv)
        case _ => false
      })
    }

  private def tracked(st: CommitStats, schema: StructType, a: String,
      v: Any): Option[(ColStats, Any)] =
    for {
      i <- fieldIdx(schema, a)
      iv <- internal(schema(i).dataType, v)
      c <- st.cols.get(a) if c.tracked
    } yield (c, iv)

  private def outside(st: CommitStats, schema: StructType, a: String,
      v: Any, eqOnly: Boolean): Boolean =
    tracked(st, schema, a, v).exists { case (c, iv) =>
      (c.min, c.max) match {
        case (Some(mn), Some(mx)) => cmp(iv, mn) < 0 || cmp(iv, mx) > 0
        case _ => st.count > 0 && c.nulls == st.count // all-NULL column
      }
    }

  private def boundDead(st: CommitStats, schema: StructType, a: String,
      v: Any)(dead: (Any, Any) => Boolean): Boolean =
    tracked(st, schema, a, v).exists { case (c, iv) =>
      c.max.exists(mx => dead(mx, iv)) ||
        (c.max.isEmpty && st.count > 0 && c.nulls == st.count)
    }

  private def boundDeadMin(st: CommitStats, schema: StructType, a: String,
      v: Any)(dead: (Any, Any) => Boolean): Boolean =
    tracked(st, schema, a, v).exists { case (c, iv) =>
      c.min.exists(mn => dead(mn, iv)) ||
        (c.min.isEmpty && st.count > 0 && c.nulls == st.count)
    }
}

/** The one statistics fold behind every metadata-served aggregate of
  * [[MemScanBuilder]]: the parsed targets, one accumulator per output
  * group, the file walk and the output emitter. An ungrouped aggregate
  * is a walk with a single empty key; an unfiltered or sampled one is
  * a single `contribute` of the snapshot's (or drawn splits') folded
  * statistics. Per-COLUMN state: a column shared by several targets —
  * sum(k), avg(k), count(k) — folds each population ONCE. */
private[sources] final class AggFold private (targets: Seq[AggFold.Tgt],
    schema: StructType) {
  import AggFold._
  import org.apache.spark.sql.types.DoubleType

  private val minCols = targets.collect { case MinC(n) => n }.distinct
  private val maxCols = targets.collect { case MaxC(n) => n }.distinct
  private val sumCols = targets.collect {
    case SumC(n) => n; case AvgC(n) => n }.distinct
  private val nonNullCols =
    (targets.collect { case CCol(n) => n } ++ sumCols).distinct
  private val aggCols = targets.collect {
    case CCol(n) => n; case MinC(n) => n; case MaxC(n) => n
    case SumC(n) => n; case AvgC(n) => n
  }.distinct

  /** Set when [[emit]] declined an AVG past the double-exactness
    * bound. */
  var avgPastExact = false

  /** The work [[walk]] did: files pruned by partition tuple, row
    * groups pruned by footer stats, boundary rows decoded and boundary
    * reads that engaged a parquet filter. */
  private var partPruned, rowGroupsPruned, boundaryRows, filtersEngaged = 0L

  /** That work as the metrics of the scan serving the answer; every
    * boundary row decoded was evaluated by the pushed filters. */
  def metrics: Seq[(String, Long)] = Seq(
    ScanMetrics.PartPruned -> partPruned,
    ScanMetrics.RowGroupsPruned -> rowGroupsPruned,
    ScanMetrics.AggBoundaryRows -> boundaryRows,
    ScanMetrics.RowsEvaluated -> boundaryRows,
    ScanMetrics.FiltersEngaged -> filtersEngaged)

  /** One output group's fold state. */
  private final class Acc {
    var cnt = 0L
    val nonNull = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    val sums = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    def foldMin(n: String, v: Any): Unit =
      if (!mins.contains(n) || MemFilters.cmp(v, mins(n)) < 0) mins(n) = v
    def foldMax(n: String, v: Any): Unit =
      if (!maxs.contains(n) || MemFilters.cmp(v, maxs(n)) > 0) maxs(n) = v

    /** Contribute one FULLY-QUALIFYING population from its stats;
      * false = stats insufficient for some target -> decline. */
    def contribute(cs: CommitStats): Boolean = {
      def extreme(n: String, bound: ColStats => Option[Any],
          fold: (String, Any) => Unit): Boolean = cs.cols.get(n) match {
        case Some(c) if c.tracked => bound(c) match {
          case Some(v) => fold(n, v); true
          case None => c.nulls == cs.count // all-NULL: contributes none
        }
        case _ => false
      }
      cnt += cs.count
      nonNullCols.forall(n => cs.cols.get(n) match {
        case Some(c) => nonNull(n) += cs.count - c.nulls; true
        case None => false
      }) &&
      minCols.forall(n => extreme(n, _.min, foldMin)) &&
      maxCols.forall(n => extreme(n, _.max, foldMax)) &&
      sumCols.forall(n => cs.cols.get(n).flatMap(_.sum) match {
        case Some(s) =>
          try { sums(n) = Math.addExact(sums(n), s); true }
          catch { case _: ArithmeticException => false }
        case None => false
      })
    }

    /** Fold one decoded row that satisfies the predicate; `idx` maps a
      * column to its position in `rs`. A sum overflow throws
      * ArithmeticException. */
    def add(r: InternalRow, rs: StructType, idx: Map[String, Int]): Unit = {
      // retained values must outlive the reader's reused row buffer
      def value(n: String): Any = r.get(idx(n), rs(idx(n)).dataType) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
        case v => v
      }
      cnt += 1
      nonNullCols.foreach(n => if (!r.isNullAt(idx(n))) nonNull(n) += 1)
      minCols.foreach(n => if (!r.isNullAt(idx(n))) foldMin(n, value(n)))
      maxCols.foreach(n => if (!r.isNullAt(idx(n))) foldMax(n, value(n)))
      sumCols.foreach(n => if (!r.isNullAt(idx(n)))
        sums(n) = Math.addExact(sums(n), CommitStats.asLong(value(n))))
    }
  }

  /** The one-row answer from ONE exact statistics fold (the full
    * snapshot's, or a drawn sample's). */
  def serve(st: CommitStats): Option[(StructType, Vector[InternalRow])] = {
    val g = new Acc
    if (g.contribute(st)) emit(Nil, Vector(Vector.empty -> g)) else None
  }

  /** Fold data `files` into groups keyed by `keyOf`. A file `admit`
    * rejects (its partition tuple contradicts the filter) drops whole
    * and counts in `partPruned`. The rest meet `preds` through
    * statistics: files and row groups the predicate provably excludes
    * ([[MemFilters.contradictsStats]]) contribute nothing, those it
    * provably covers COMPLETELY ([[MemFilters.provesAll]] — exact null
    * counts included, a NULL never satisfies) contribute their stats,
    * and only the BOUNDARY row groups decode — at a pruned read schema,
    * behind a row budget (`graft.catalog.aggpush.boundary`, default
    * 256k) past which the walk declines and the distributed scan wins.
    * A selective predicate over a clustered 100 TB table answers from
    * O(boundary) work with ZERO rows decoded in the aligned case.
    *
    * Without `groupCols` the walk is one group that always emits (an
    * empty input still has a count); with them, a group whose every
    * row the filter dropped emits nothing (SQL GROUP BY: a group
    * exists only if a row survives). None = decline. */
  def walk(files: Seq[FileSeg], dataSchema: StructType,
      preds: Seq[org.apache.spark.sql.sources.Filter],
      admit: FileSeg => Boolean, keyOf: FileSeg => Vector[Any],
      groupCols: Seq[String]): Option[(StructType, Vector[InternalRow])] = {
    val groups =
      scala.collection.mutable.LinkedHashMap.empty[Vector[Any], Acc]
    if (groupCols.isEmpty) groups(Vector.empty) = new Acc
    val boundary = Vector.newBuilder[(Acc, String, ParquetRowIO.Block)]
    files.foreach { f =>
      if (!admit(f)) partPruned += 1
      else {
        lazy val g = groups.getOrElseUpdate(keyOf(f), new Acc)
        if (MemFilters.contradictsStats(f.stats, dataSchema, preds)) ()
        else if (preds.isEmpty ||
            MemFilters.provesAll(f.stats, dataSchema, preds)) {
          if (!g.contribute(f.stats.getOrElse(return None))) return None
        } else ParquetRowIO.blockStats(f.path, dataSchema).foreach {
          case (b, cs) =>
            val some = Some(cs)
            if (MemFilters.contradictsStats(some, dataSchema, preds))
              rowGroupsPruned += 1
            // parquet footers carry no column sums, so a proved
            // interior group can't serve SUM/AVG from stats — it
            // decodes with the boundary set instead
            else if (sumCols.isEmpty &&
                MemFilters.provesAll(some, dataSchema, preds)) {
              if (!g.contribute(cs)) return None
            } else boundary += ((g, f.path, b))
        }
      }
    }
    val blocks = boundary.result()
    val budget = sys.props
      .getOrElse("graft.catalog.aggpush.boundary", "262144").toLong
    if (blocks.iterator.map(_._3.rows).sum > budget) return None
    if (blocks.nonEmpty) {
      // decode ONLY the boundary groups, at (agg ∪ filter) columns,
      // with the filters handed to parquet-mr (page/dictionary skips
      // inside the group) and re-evaluated exactly here
      val readCols = (aggCols ++ preds.flatMap(_.references)).distinct
        .filter(dataSchema.fieldNames.contains)
      val rs = StructType(readCols.map(dataSchema(_)))
      val idx = readCols.zipWithIndex.toMap
      val pred = MemFilters.compile(rs, preds)
      try blocks.foreach { case (g, path, b) =>
        val it = ParquetRowIO.open(path, rs, b.startByte, b.endByte, preds)
        if (it.engaged) filtersEngaged += 1
        try it.foreach { r =>
          boundaryRows += 1
          if (pred(r)) g.add(r, rs, idx)
        } finally it.close()
      } catch { case _: ArithmeticException => return None } // sum overflow
    }
    emit(groupCols.map(schema(_)), groups.iterator.filter { case (_, g) =>
      groupCols.isEmpty || preds.isEmpty || g.cnt > 0
    }.toVector)
  }

  /** The V2ScanRelationPushDown contract: output = GROUPING columns
    * first, then one column per aggregate, positionally. SQL
    * semantics: an all-NULL (or empty) input sums and averages to
    * NULL, never 0. */
  private def emit(groupFields: Seq[StructField],
      groups: Vector[(Vector[Any], Acc)])
      : Option[(StructType, Vector[InternalRow])] = {
    val rows = groups.map { case (key, g) =>
      val vals = targets.map {
        case CStar => g.cnt
        case CCol(n) => g.nonNull(n)
        case MinC(n) => g.mins.getOrElse(n, null)
        case MaxC(n) => g.maxs.getOrElse(n, null)
        case SumC(n) => if (g.nonNull(n) == 0) null else g.sums(n)
        case AvgC(n) =>
          if (g.nonNull(n) == 0) null
          // exact only while the sum is exactly representable in the
          // double Spark's Average accumulates in: past it, Spark scans
          else if (math.abs(g.sums(n)) > MemScan.ExactInDouble) {
            avgPastExact = true
            return None
          } else g.sums(n).toDouble / g.nonNull(n)
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        (key ++ vals).toArray): InternalRow
    }
    Some((StructType(groupFields ++ targets.map {
      case CStar => StructField("count_star", LongType, nullable = false)
      case CCol(_) => StructField("count_col", LongType, nullable = false)
      case MinC(n) => StructField("min_col", schema(n).dataType)
      case MaxC(n) => StructField("max_col", schema(n).dataType)
      case SumC(_) => StructField("sum_col", LongType)
      case AvgC(_) => StructField("avg_col", DoubleType)
    }), rows))
  }
}

private[sources] object AggFold {
  import org.apache.spark.sql.connector.expressions.aggregate._

  /** One aggregate the fold serves: COUNT(*), or COUNT/MIN/MAX/SUM/AVG
    * of one named column. */
  sealed trait Tgt
  case object CStar extends Tgt
  final case class CCol(n: String) extends Tgt
  final case class MinC(n: String) extends Tgt
  final case class MaxC(n: String) extends Tgt
  final case class SumC(n: String) extends Tgt
  final case class AvgC(n: String) extends Tgt

  /** The fold for `agg` over the relation's logical `schema`, or None
    * when some aggregate has no statistics answer: DISTINCT, a
    * non-column argument, or SUM/AVG over a non-integral column (exact
    * Long sums only; floats are addition-order-dependent). */
  def apply(agg: Aggregation, schema: StructType,
      colName: org.apache.spark.sql.connector.expressions.Expression =>
        Option[String]): Option[AggFold] = {
    def sumServable(n: String): Boolean =
      schema.fieldNames.contains(n) &&
        CommitStats.sumTracked(schema(n).dataType)
    val targets: Seq[Tgt] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CStar
      case c: Count if !c.isDistinct =>
        colName(c.column).map(CCol.apply).getOrElse(return None)
      case m: Min => colName(m.column).map(MinC.apply).getOrElse(return None)
      case m: Max => colName(m.column).map(MaxC.apply).getOrElse(return None)
      case s: Sum if !s.isDistinct =>
        colName(s.column).filter(sumServable).map(SumC.apply)
          .getOrElse(return None)
      case a: Avg if !a.isDistinct =>
        colName(a.column).filter(sumServable).map(AvgC.apply)
          .getOrElse(return None)
      case _ => return None
    }
    val fold = new AggFold(targets, schema)
    if (fold.aggCols.forall(schema.fieldNames.contains)) Some(fold) else None
  }
}

/** Scan builder with COLUMN PRUNING (incl. the `__pos` metadata
  * column) and AGGREGATE PUSHDOWN served from the commit-log stats
  * sidecars (the Delta/Iceberg metadata-only `SELECT count(*)` path):
  * COUNT(*) / COUNT(col) / MIN / MAX / SUM / AVG over columns with
  * tracked stats is answered COMPLETELY by one [[AggFold]] — from the
  * snapshot's folded statistics, a drawn sample's, or (under pushed
  * filters or GROUP BY partition columns) per-file statistics plus a
  * bounded boundary decode — so the scan emits the answer rows and at
  * 100 TB a metadata lookup replaces a full-corpus pass. Anything else
  * (DISTINCT, floating-point min/max, a version whose stats sidecar is
  * lost) declines, and Spark aggregates the plain scan — pushdown
  * steers the plan, never the results. */
private[sources] final class MemScanBuilder(store: MemStore,
    pinned: Option[Pinned],
    streamStore: Option[MemStore] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample {
  import org.apache.spark.sql.connector.expressions.aggregate._

  private var served: Option[(StructType, Vector[InternalRow])] = None
  /** The metrics of the fold that served [[served]]. */
  private var servedMetrics: Seq[(String, Long)] = Nil
  private var required: Option[StructType] = None
  private var pushedLimit: Option[Int] = None
  private var pushedSample: Option[(Double, Double, Long)] = None
  /** Spark answers a declined AVG by pushing SUM and COUNT in its place
    * and dividing them itself: the same inexact double the AVG bound
    * declined. Once the bound fires, this builder declines every
    * aggregate. */
  private var avgPastExact = false

  /** TABLESAMPLE pushdown — FULL (Spark removes its Sample operator,
    * so the scan OWNS the sampling): CLUSTER sampling at split grain —
    * each planned split is included with probability (upper - lower)
    * via a seeded mix of its STABLE IDENTITY (file path + physical
    * range start — see `MemScan.splitKey`), and only included splits
    * are read. Every row's inclusion probability equals the requested
    * fraction regardless of split sizes (its split is one Bernoulli
    * draw), so the sample is unbiased while `TABLESAMPLE (1 PERCENT)`
    * on a 100 TB table reads ~1% of the BYTES instead of row-sampling
    * a full scan. REPEATABLE(seed) is honored twice over: a fixed
    * seed over a fixed snapshot selects the same ROWS even as
    * co-pushed predicates or DPP change which splits survive planning
    * (membership keys on split identity, not plan position). Declined
    * when the table has too few segments for the fraction (cluster
    * grain would be all-or-nothing — Spark row-samples instead) and
    * for with-replacement sampling (a split cannot be emitted twice).
    * If filters later prune the PLANNED splits below that same
    * granularity threshold, the sample degrades to row grain instead
    * (`planPipeline` — every surviving split planned, the reader
    * draws per live row id). */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement) return false
    val width = upperBound - lowerBound
    if (width <= 0.0) return false // empty sample: let Spark serve it
    if (width >= 1.0) return true // full table: nothing to drop
    // granularity guard: expect >= ~4 included segments, else the
    // cluster grain is too coarse to resemble the asked fraction
    val segs = pinned.map(_.snap.segs.length)
      .getOrElse(store.currentState()._1.segs.length)
    if (segs * width < 4.0) return false
    pushedSample = Some((lowerBound, upperBound, seed))
    true
  }
  /** (leading sort column, ascending, n, strict) — `strict` = the
    * order had MORE columns after the leading one, so file-chain
    * truncation must demand STRICT leading-key disjointness (a
    * boundary tie in the leading key could be broken the other way
    * by a secondary key living in the un-planned file). */
  private var pushedTopN: Option[(String, Boolean, Int, Boolean)] = None

  /** LIMIT pushdown — planning-truncation only: with no pushed
    * filters the scan plans just enough splits to cover `limit` LIVE
    * rows (exact under delete overlays — live counts are metadata),
    * so `SELECT * FROM t LIMIT 100` on a 100 TB table touches O(1)
    * files instead of scheduling a task per file. Declared PARTIAL:
    * Spark keeps its own limit operator, the pushdown only shrinks
    * the planned work — result-invisible by construction. */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }
  override def isPartiallyPushed: Boolean = true

  /** TOP-N pushdown (`ORDER BY col [, …] LIMIT n`) —
    * planning-truncation only, PARTIAL (Spark re-sorts and limits
    * what we serve, so any SUPERSET of the true top-n is correct):
    * when the files are NON-OVERLAPPING in the LEADING sort key (a
    * time-clustered event table, an OPTIMIZE-clustered key), the scan
    * plans only the covering prefix (ASC) / suffix (DESC) of files —
    * "latest 100 events" on a 100 TB table reads one file. The scan
    * itself proves eligibility from file stats at planning time
    * (tracked min/max, ZERO nulls in the key — null ordering never
    * decides — range-disjoint patch-free files, STRICTLY disjoint
    * under a compound order); anything else just plans everything,
    * result-unchanged. Secondary sort columns need no eligibility of
    * their own: with the leading key strictly disjoint across files,
    * every lexicographic top-n row lives in the covering end
    * regardless of how later keys break ties. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (orders.isEmpty) return false
    colName(orders(0).expression()) match {
      case Some(n) =>
        pushedTopN = Some((n,
          orders(0).direction() ==
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING,
          limit,
          orders.length > 1))
        true
      case None => false
    }
  }
  /** The PHYSICAL layout this scan decodes against: the pinned
    * version's schema for time travel, else the store's current. */
  private def dataSchema: StructType =
    pinned.map(_.phys).getOrElse(store.physSchema)
  private var pushedArr: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** Push the translatable subset; the rest stays with Spark. Handled
    * filters are evaluated EXACTLY in the scan (row and columnar
    * readers alike), so Spark drops its own FilterExec for them
    * (partial pushdown keeps a residual filter). */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (ok, rest) = filters.partition(
      MemFilters.supported(dataSchema, _))
    pushedArr = ok
    rest
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushedArr

  private def targetStats: Option[CommitStats] =
    pinned.map(_.stats)
      .getOrElse(store.statsAt(store.currentVersion))

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames.head)
    case _ => None
  }

  /** No row-level overlay and every segment a data file: the files'
    * statistics describe the snapshot's rows exactly. */
  private def overlayFree(snap: Snap): Boolean =
    snap.segs.forall(ls => ls.dels.isEmpty && ls.patches.isEmpty &&
      ls.seg.isInstanceOf[FileSeg])

  private def plan(agg: Aggregation)
      : Option[(StructType, Vector[InternalRow])] = {
    if (avgPastExact) return None
    val fold = AggFold(agg, ColumnMapping.logical(dataSchema), colName)
      .getOrElse(return None)
    val (out, servedBy) =
      // a pushed TABLESAMPLE owns row selection: serve from the DRAWN
      // splits' statistics only (see [[planSampled]])
      if (pushedSample.isDefined)
        (planSampled(agg, fold), Some(ScanMetrics.AggSampledServed))
      else if (agg.groupByExpressions.nonEmpty)
        (planGrouped(agg, fold), Some(ScanMetrics.AggGroupedServed))
      // snapshot stats describe the UNFILTERED table: with a pushed
      // filter the answer instead folds from POST-PRUNE file and
      // row-group statistics plus a bounded decode of the boundary
      // groups
      else if (pushedArr.nonEmpty)
        (planFiltered(fold), Some(ScanMetrics.AggFilteredServed))
      else (targetStats.flatMap(fold.serve), None)
    avgPastExact = fold.avgPastExact
    if (out.isDefined)
      servedMetrics = servedBy.map(_ -> 1L).toSeq ++ fold.metrics
    out
  }

  /** Metadata-served aggregates OVER A PUSHED CLUSTER SAMPLE: the
    * drawn split set is a pure-metadata decision (the same stable
    * per-split draw the scan itself runs — `MemScan.planPipeline`),
    * so COUNT/COUNT(col)/MIN/MAX/SUM/AVG over `TABLESAMPLE (p
    * PERCENT) REPEATABLE (s)` fold from the drawn splits' own
    * commit/footer statistics with ZERO data read — the 100 TB
    * "quick estimate over a sample" query becomes a metadata
    * operation, and its values are IDENTICAL to aggregating the
    * sampled scan (same drawn set, exact per-slice stats). Declines
    * under grouping, pushed filters, a row-level overlay, row-grain
    * degrade (no fixed drawn split set exists), a file-restricted
    * read, or a slice without statistics — the sampled scan path
    * then answers. */
  private def planSampled(agg: Aggregation, fold: AggFold)
      : Option[(StructType, Vector[InternalRow])] = {
    if (agg.groupByExpressions.nonEmpty || pushedArr.nonEmpty) return None
    if (options.get("graft.files") != null) return None
    val (snap, stats) = pinned match {
      case Some(p) => (p.snap, p.stats)
      case None => store.currentState()
    }
    if (!overlayFree(snap)) return None
    val scan = new MemScan(ColumnMapping.logical(dataSchema), dataSchema,
      snap, stats, Seq.empty, streamStore = streamStore,
      specs = store.specsAll, analyzed = store.analyzedStats,
      streamOptions = options, limit = None, topN = None,
      sample = pushedSample)
    scan.sampledSliceStats().flatMap { perSlice =>
      if (perSlice.isEmpty || perSlice.exists(_.isEmpty)) None
      else fold.serve(perSlice.flatten.reduceLeft(CommitStats.merge))
    }
  }

  /** AGGREGATE PUSHDOWN UNDER A PUSHED PREDICATE: the snapshot's data
    * files walk through [[AggFold.walk]] as one group — files whose
    * partition tuple contradicts the predicate
    * ([[Partitioning.contradicts]], under each file's OWN spec, so
    * evolved-away generations and bucket/days transforms prune too)
    * drop before any stats are read. */
  private def planFiltered(fold: AggFold)
      : Option[(StructType, Vector[InternalRow])] = {
    if (pinned.isDefined || store.dataDirStr.isEmpty) return None
    val (snap, _) = store.currentState()
    if (!overlayFree(snap)) return None
    val preds = pushedArr.toSeq
    val specs = store.specsAll
    def specOf(id: Int): Seq[PartTransform] =
      if (id >= 0 && id < specs.length) specs(id) else Nil
    fold.walk(snap.segs.map(_.seg.asInstanceOf[FileSeg]), dataSchema, preds,
      admit = f => !f.partVals.exists(pv => Partitioning.contradicts(
        specOf(f.specId), pv, dataSchema, f.count, preds)),
      keyOf = _ => Vector.empty, groupCols = Nil)
  }

  /** GROUP-BY-PARTITION aggregate pushdown: `SELECT day, count(*)
    * FROM t GROUP BY day` over a day-partitioned table answers from
    * COMMIT METADATA — one row per partition tuple, folded from the
    * per-file stats every write recorded, zero data files touched.
    * The per-partition census a 100 TB table gets asked daily.
    * Serves when: every grouping expression is an IDENTITY partition
    * source column of the CURRENT spec, the snapshot is overlay-free
    * single-generation files with stats, and every aggregate is one
    * [[AggFold]] serves.
    *
    * Pushed filters compose two ways: IDENTITY-partition-column
    * filters evaluate exactly on each file's tuple (whole files keep
    * or drop, zero rows decoded — exact for every column type, where
    * the ungrouped walk's [[Partitioning.contradicts]] refutes through
    * min/max pseudo-stats and so never refutes a comparison on a
    * BOOLEAN or DOUBLE tuple; that walk needs it for bucket/days
    * transforms and older spec generations, which this one declines);
    * every OTHER filter goes through the same stats admission and
    * boundary decode as the ungrouped walk (each file's rows all belong
    * to one group, so boundary rows fold into a known group). */
  private def planGrouped(agg: Aggregation, fold: AggFold)
      : Option[(StructType, Vector[InternalRow])] = {
    if (pinned.isDefined || store.dataDirStr.isEmpty) return None
    val specIdx: Map[String, Int] = store.partSpec.zipWithIndex.collect {
      case (PIdentity(c), i) => c -> i
    }.toMap
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map(e =>
      colName(e).filter(specIdx.contains).getOrElse(return None))
    // tuple-exact filters vs row filters: a file's rows all share the
    // partition tuple, so a filter referencing ONLY identity partition
    // columns evaluates exactly on the tuple
    val (tupleFilters, rowFilters) = pushedArr.toSeq.partition(
      _.references.forall(specIdx.contains))
    val tupleSchema = StructType(specIdx.keys.toSeq.sorted.map(dataSchema(_)))
    val tupleFieldIdx: Seq[Int] = tupleSchema.fieldNames.map(specIdx(_))
    def tupleSurvives(pv: Vector[Any]): Boolean =
      tupleFilters.isEmpty || MemFilters.eval(tupleSchema, tupleFilters,
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          tupleFieldIdx.map(pv(_)).toArray))
    val (snap, _) = store.currentState()
    val curId = store.currentSpecId
    val files = snap.segs.map { ls =>
      ls.seg match {
        case f: FileSeg if f.partVals.isDefined && f.specId == curId &&
            f.stats.isDefined => f
        case _ => return None
      }
    }
    if (files.isEmpty || !overlayFree(snap)) return None
    fold.walk(files, dataSchema, rowFilters,
      admit = f => tupleSurvives(f.partVals.get),
      keyOf = f => groupCols.map(c => f.partVals.get(specIdx(c))).toVector,
      groupCols = groupCols)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    served = plan(agg)
    served.isDefined
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (served.isEmpty) served = plan(agg)
    served.isDefined
  }

  override def build(): org.apache.spark.sql.connector.read.Scan =
    served match {
      case Some((schema, rows)) =>
        // the metadata-served aggregate rows already ARE the output
        MemScan.direct(schema, rows, servedMetrics)
      case None =>
        // one consistent (snapshot, stats) pair: captured under a
        // single synchronized read, so the zone-map short-circuit can
        // never contradict the very snapshot it is about to serve
        val (snap0, stats0) = pinned match {
          case Some(p) => (p.snap, p.stats)
          case None => store.currentState()
        }
        // INTERNAL file-restricted read (`spark.read.option
        // ("graft.files", "a,b").table(...)`): serve ONLY the named
        // data files with their overlays — the incremental-OPTIMIZE
        // source frame (read the dirty files, nothing else). Table
        // stats don't describe the subset: drop them.
        val (snap, stats) =
          Option(options.get("graft.files")).map(_.split(',').toSet) match {
            case Some(names) =>
              (Snap(snap0.segs.filter(_.seg match {
                case f: FileSeg => names.contains(java.nio.file.Paths
                  .get(f.path).getFileName.toString)
                case _ => false
              })), None)
            case None => (snap0, stats0)
          }
        new MemScan(
          required.getOrElse(ColumnMapping.logical(dataSchema)),
          dataSchema, snap, stats,
          pushedArr.toSeq, streamStore = streamStore,
          specs = store.specsAll,
          analyzed = store.analyzedStats,
          streamOptions = options,
          limit = pushedLimit,
          topN = pushedTopN,
          sample = pushedSample)
    }
}

/** One planned scan split: a contiguous PHYSICAL range of one segment
  * plus its row-level overlay (deletions and patches local to the
  * range) and `liveBase` — the count of live rows before the range in
  * the full snapshot, which keeps the `__pos` row id GLOBAL under a
  * parallel scan. File segments plan one split per data file (write
  * parallelism = read parallelism, the real-format shape); heap
  * segments slice by ranges. */
private[sources] final case class SegSlice(seg: RowSeg, physStart: Long,
    physEnd: Long, dels: Vector[Long], patches: Map[Long, InternalRow],
    liveBase: Long, byteStart: Long = -1L, byteEnd: Long = -1L,
    /** ROW-grain TABLESAMPLE (lower, upper, seed) — set only when a
      * pushed cluster sample DEGRADED because filters pruned the
      * planned splits below the granularity threshold: the reader
      * Bernoulli-draws each row on its snapshot-global live id, so
      * the sample keeps the requested fraction at row variance
      * instead of near all-or-nothing split variance, and stays
      * REPEATABLE-deterministic (live ids are predicate-independent
      * properties of the snapshot). */
    rowSample: Option[(Double, Double, Long)] = None)
    extends InputPartition

/** A [[SegSlice]] that KNOWS its partition key (identity-partitioned
  * file scans): what lets the scan report KeyGroupedPartitioning so
  * Spark plans STORAGE-PARTITIONED JOINS — two catalog tables
  * partitioned on the join key exchange NOTHING. */
private[sources] final case class KeyedSlice(slice: SegSlice,
    key: InternalRow) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** The catalog scan over a snapshot VIEW: splits are segment slices —
  * for the file-backed plane, one per parquet data file, read at a
  * PRUNED schema (required output columns plus pushed-filter columns,
  * nothing else touches disk). The snapshot and its statistics were
  * captured atomically by the builder. */
private[sources] final class MemScan private (outSchema: StructType,
    dataSchema: StructType, snap: Snap, stats: Option[CommitStats],
    pushed: Seq[org.apache.spark.sql.sources.Filter],
    direct: Boolean,
    streamStore: Option[MemStore],
    specs: Vector[Seq[PartTransform]],
    analyzed: Option[AnalyzedStats],
    streamOptions: CaseInsensitiveStringMap,
    /** pushed LIMIT (planning truncation only — see
      * [[MemScanBuilder.pushLimit]]). */
    limit: Option[Int],
    /** pushed TOP-N: (leading sort column, ascending, n, strict
      * disjointness required) — see [[MemScanBuilder.pushTopN]]. */
    topN: Option[(String, Boolean, Int, Boolean)],
    /** pushed TABLESAMPLE: (lower, upper, seed) — see
      * [[MemScanBuilder.pushTableSample]]. */
    sample: Option[(Double, Double, Long)],
    /** a metadata-served aggregate's planning counts. */
    servedMetrics: Seq[(String, Long)])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  def this(outSchema: StructType, dataSchema: StructType, snap: Snap,
      stats: Option[CommitStats],
      pushed: Seq[org.apache.spark.sql.sources.Filter],
      streamStore: Option[MemStore],
      specs: Vector[Seq[PartTransform]] = Vector(Nil),
      analyzed: Option[AnalyzedStats] = None,
      streamOptions: CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty(),
      limit: Option[Int] = None,
      topN: Option[(String, Boolean, Int, Boolean)] = None,
      sample: Option[(Double, Double, Long)] = None) =
    this(outSchema, dataSchema, snap, stats, pushed, direct = false,
      streamStore, specs, analyzed, streamOptions, limit, topN, sample,
      servedMetrics = Nil)

  /** The WRITE spec (current) — SPJ key reporting and DPP attribute
    * offers address it; per-FILE pruning uses each file's own spec. */
  private def partSpec: Seq[PartTransform] = specs.last
  private def currentSpecId: Int = specs.length - 1
  private def specOf(id: Int): Seq[PartTransform] =
    if (id >= 0 && id < specs.length) specs(id) else Nil

  /** STORAGE-PARTITIONED JOIN eligibility: every live segment is a
    * data file carrying its partition tuple, the spec is identity
    * transforms only (bucket/days keys would need a shared v2
    * function for both join sides), and no UPDATE overlay exists (a
    * patch can move a row's partition column under its file — the
    * same condition that suppresses partition pruning). Then every
    * split knows its key and the scan reports KeyGroupedPartitioning:
    * a join of two tables partitioned on the key plans NO exchange
    * (spark.sql.sources.v2.bucketing.enabled). */
  private lazy val spjKeys: Option[Vector[Vector[Any]]] = {
    // identity keys need no function; bucket keys resolve through the
    // catalog's FunctionCatalog (graft.bucket) on BOTH join sides —
    // days is excluded (a days-grain SPJ equi-join is rarely the
    // user's join key and Spark would need the function for it too)
    val spjAble = partSpec.nonEmpty && partSpec.forall {
      case _: PIdentity | _: PBucket => true
      case _ => false
    }
    val clean = !direct && spjAble && snap.segs.nonEmpty &&
      snap.segs.forall(ls => ls.patches.isEmpty && (ls.seg match {
        case f: FileSeg =>
          f.partVals.isDefined && f.specId == currentSpecId
        case _ => false
      }))
    if (!clean) None
    else {
      val keys = planSlices(pushed).slices.iterator.collect {
        case sl: SegSlice => sl.seg.asInstanceOf[FileSeg].partVals.get
      }.toVector.distinct
      if (keys.isEmpty) None else Some(keys)
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some(keys) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            partSpec.map {
              case PIdentity(c) => Expressions.identity(c)
                : org.apache.spark.sql.connector.expressions.Expression
              case PBucket(n, c) => Expressions.bucket(n, c)
                : org.apache.spark.sql.connector.expressions.Expression
              case other => throw new IllegalStateException(
                s"unexpected SPJ transform $other")
            }.toArray,
            keys.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Reported per-partition OUTPUT ORDERING (`SupportsReportOrdering`)
    * — what lets Spark ELIDE sorts the data's layout already paid for:
    * `sortWithinPartitions`, the local sort under a sort-merge join of
    * SPJ-co-partitioned tables (zero exchange AND zero sort), and —
    * through RemoveRedundantSorts on a single-partition scan — a
    * global ORDER BY. Truthful when every planned split is a
    * contiguous range of a PATCH-FREE data file whose WRITE-TIME stats
    * mark a common output column monotone and non-null throughout
    * ([[ColStats]] sortedAsc/sortedDesc — discovered by the write
    * task, so `INSERT … SORT BY k` or a sort-rewriting OPTIMIZE flags
    * files automatically): the row and columnar decoders walk physical
    * order, and deletions/selection vectors only REMOVE rows. Under
    * SPJ grouping the report additionally requires ONE split per
    * partition key — a group concatenates its splits, which breaks row
    * order. Runtime (DPP) filters and LIMIT/TopN truncation only DROP
    * whole splits, so the report computed from the pushed-filter plan
    * stays valid at execution. The first output column sorted the same
    * way in EVERY planned file wins (ascending preferred). */
  private lazy val reportedOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    // cheap pre-check before the planSlices metadata pass (this runs
    // during EVERY query's planning): a table with no sorted file
    // anywhere — the common case — answers from the snapshot alone
    lazy val anySorted = snap.segs.exists(_.seg match {
      case f: FileSeg => f.stats.exists(_.cols.valuesIterator.exists(
        c => c.sortedAsc || c.sortedDesc))
      case _ => false
    })
    if (direct || !anySorted) Array.empty
    else {
      val slices = planSlices(pushed).slices.flatMap {
        case k: KeyedSlice => Some(k.slice)
        case s: SegSlice => Some(s)
        case _ => None
      }
      val eligible = slices.nonEmpty && slices.forall(sl =>
        sl.patches.isEmpty && (sl.seg match {
          case f: FileSeg => f.stats.isDefined
          case _ => false
        })) &&
        // SPJ: one split per key, or a task would concatenate files
        (spjKeys.isEmpty || {
          val pv = slices.map(_.seg.asInstanceOf[FileSeg].partVals)
          pv.length == pv.distinct.length
        })
      if (!eligible) Array.empty
      else {
        val statsOf = slices.map(
          _.seg.asInstanceOf[FileSeg].stats.get.cols)
        def allSorted(phys: String, asc: Boolean): Boolean =
          statsOf.forall(_.get(phys).exists(c =>
            if (asc) c.sortedAsc else c.sortedDesc))
        val logical = ColumnMapping.logical(dataSchema)
        val candidates = outSchema.fields.iterator.flatMap { f =>
          val i = logical.fields.indexWhere(_.name == f.name)
          if (i < 0) None
          else Some((f.name,
            dataSchema(ColumnMapping.logicalToPhys(dataSchema)(i)).name))
        }.toVector
        val hit = candidates.collectFirst {
          case (out, phys) if allSorted(phys, asc = true) => (out, true)
        }.orElse(candidates.collectFirst {
          case (out, phys) if allSorted(phys, asc = false) => (out, false)
        })
        hit.map { case (out, asc) =>
          Array(Expressions.sort(Expressions.column(out),
            if (asc)
              org.apache.spark.sql.connector.expressions.SortDirection
                .ASCENDING
            else
              org.apache.spark.sql.connector.expressions.SortDirection
                .DESCENDING))
        }.getOrElse(Array.empty[
          org.apache.spark.sql.connector.expressions.SortOrder])
      }
    }
  }
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    reportedOrdering

  /** RUNTIME (dynamic partition pruning) filters: Spark offers the
    * partition source columns at planning time; a dimension-derived
    * IN-set arrives at execution and prunes whole files before the
    * fact scan runs — the DSv2 DPP contract. Pruning here is
    * file-grain only (the join above still applies the predicate
    * row-exactly, so dropping non-matching FILES is the sound part). */
  @volatile private var runtime: Seq[org.apache.spark.sql.sources.Filter] =
    Nil
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (direct || partSpec.isEmpty) Array.empty
    // only offer partition columns the scan actually OUTPUTS: Spark's
    // PartitionPruning resolves these against the relation output and
    // throws on a pruned-out column (a DPP offer over a column the
    // join doesn't read is unplannable anyway — the runtime filter's
    // values arrive keyed on join-side attributes)
    else partSpec.iterator
      .filter(p => outSchema.fieldNames.contains(p.col))
      .map(p => Expressions.column(p.col)).toArray
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Unit =
    runtime = predicates.toSeq.flatMap(MemScan.v2ToV1(_))
      .filter(MemFilters.supported(dataSchema, _))

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this

  /** STREAMING read of the live table (`spark.readStream.table`):
    * offsets are COMMIT VERSIONS off the delta log — each micro-batch
    * serves the rows INSERTED in (start, end] (appends, merge inserts,
    * and the consolidated initial load; updates/deletes are skipped —
    * the Delta `ignoreChanges` posture), so a downstream job follows a
    * continuously-ingesting table exactly-once with checkpointed
    * version offsets and never rescans history. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamStore.map(st =>
      // row-based factory ALWAYS: micro-batches serve heap slices of
      // the changed rows, which have no columnar decode path
      new MemMicroBatchStream(st, () => new SegReaderFactory(outSchema,
        dataSchema, MemScan.fileReadSchema(outSchema, dataSchema, pushed),
        if (direct) Seq.empty else pushed, direct, columnar = false),
        streamOptions)).getOrElse(
      throw new UnsupportedOperationException(
        "streaming reads address the LIVE table, not a time-travel handle"))

  /** The physical field a LOGICAL output column decodes from (None
    * for synthetic columns like `__pos`). */
  private def physFieldOf(name: String): Option[StructField] = {
    val logical = ColumnMapping.logical(dataSchema)
    val l2p = ColumnMapping.logicalToPhys(dataSchema)
    val i = logical.fields.indexWhere(_.name == name)
    if (i < 0) None else Some(dataSchema(l2p(i)))
  }

  /** ANALYZE-time stats of one logical column (field-id keyed — a
    * rename between ANALYZE and the query still resolves). */
  private def analyzedOf(name: String): Option[AnalyzedCol] =
    for {
      f <- physFieldOf(name)
      id <- ColumnMapping.fieldId(f)
      a <- analyzed
      c <- a.cols.get(id)
    } yield c

  /** CBO statistics — what lets Spark size catalog scans correctly
    * without a hint (a v2 scan with no reported statistics defaults
    * to "infinitely large" and every catalog join degrades to
    * sort-merge; CboStatsSpec pins both directions):
    *
    *  - `numRows` is FILTER-AWARE: with pushed predicates it is the
    *    live span of the SURVIVING splits after partition pruning +
    *    file/row-group stats skipping — so a selective partition
    *    filter over a 100 TB fact correctly re-plans the join side it
    *    feeds as broadcast-able. Planning is pure metadata (the same
    *    `planSlices` the scan itself runs).
    *  - `sizeInBytes` uses ANALYZE-time average byte widths for
    *    variable-length columns when available (a 2 KB-average
    *    document column must not be costed at StringType's 20-byte
    *    default), type default widths otherwise.
    *  - `columnStats` serves per-column NDV + avg/max lengths from
    *    the last `ANALYZE TABLE ... COMPUTE STATISTICS` pass
    *    ([[AnalyzedStats]], field-id keyed) merged with EXACT
    *    nullCount/min/max from the commit-log stats fold — the inputs
    *    `spark.sql.cbo.enabled` join-reorder and filter estimation
    *    consume (translated by `transformV2Stats` into the logical
    *    plan's `attributeStats`). Min/max are served for
    *    integral/date/timestamp columns only (CBO estimation is
    *    numeric; string extremes don't inform it). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      // numRows = the live span of exactly the splits the scan will
      // plan (same pipeline: filters → sample → truncation) — so a 1%
      // sampled or LIMIT-truncated scan of a 100 TB fact is COSTED at
      // what it reads, not at the full table, and CBO can broadcast
      // it. Row-grain degraded samples scale the planned span by the
      // fraction (an estimate — explicitly allowed for statistics).
      private val n: Long =
        if (direct) snap.count
        else if (pushed.nonEmpty || sample.isDefined ||
            limit.isDefined || topN.isDefined) {
          val planned = basePipeline
          val live = planned.slices.iterator.flatMap(sliceOf).map(liveOf)
            .sum
          if (planned.rowGrain)
            math.max(1L, math.round(live *
              sample.map { case (lo, hi, _) => hi - lo }.getOrElse(1.0)))
          else live
        } else stats.map(_.count).getOrElse(snap.count)
      private val rowWidth: Long = math.max(1L,
        outSchema.fields.iterator.map { f =>
          analyzedOf(f.name).map(_.avgLen)
            .getOrElse(f.dataType.defaultSize.toLong)
        }.sum)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(n)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, n * rowWidth))
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        if (direct) return out
        outSchema.fields.foreach { f =>
          val exact = stats.flatMap(_.cols.get(f.name))
          val ana = analyzedOf(f.name)
          if (exact.isDefined || ana.isDefined) {
            val serveMinMax = exact.exists(_.tracked) &&
              (f.dataType match {
                case StringType => false
                case _ => true
              })
            val cs = new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
              // snapshot-grain counts CAPPED at the served (filter-
              // aware) numRows: nullCount/distinctCount > rowCount
              // would drive FilterEstimation to nonsense (even
              // negative) selectivities under a selective pushed
              // predicate — plan-quality only, but why poison it
              override def distinctCount(): java.util.OptionalLong =
                ana.map(a => java.util.OptionalLong.of(math.min(a.ndv, n)))
                  .getOrElse(java.util.OptionalLong.empty())
              override def nullCount(): java.util.OptionalLong =
                exact.map(e =>
                  java.util.OptionalLong.of(math.min(e.nulls, n)))
                  .getOrElse(java.util.OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                if (serveMinMax)
                  exact.flatMap(_.min).map(v =>
                    java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                else java.util.Optional.empty[Object]()
              override def max(): java.util.Optional[Object] =
                if (serveMinMax)
                  exact.flatMap(_.max).map(v =>
                    java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                else java.util.Optional.empty[Object]()
              override def avgLen(): java.util.OptionalLong =
                ana.map(a => java.util.OptionalLong.of(a.avgLen))
                  .getOrElse(java.util.OptionalLong.of(
                    f.dataType.defaultSize.toLong))
              override def maxLen(): java.util.OptionalLong =
                ana.map(a => java.util.OptionalLong.of(a.maxLen))
                  .getOrElse(java.util.OptionalLong.of(
                    f.dataType.defaultSize.toLong))
            }
            out.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(f.name), cs)
          }
        }
        out
      }
    }

  /** Plan the splits: zone-map-contradicted predicates serve EMPTY
    * (zero partitions, zero rows touched); otherwise one split per
    * file segment and ranged slices of heap segments, each split
    * self-contained (its rows, its overlay, its global live base). */
  override def planInputPartitions(): Array[InputPartition] = {
    if (direct)
      return Array(SegSlice(snap.segs.head.seg, 0L,
        snap.segs.head.seg.count, Vector.empty, Map.empty, 0L))
    val planned =
      if (runtime.isEmpty) basePipeline
      else planPipeline((pushed ++ runtime).toVector)
    plannedMetrics = Seq(ScanMetrics.PartPruned -> planned.partPruned,
      ScanMetrics.RowGroupsPruned -> planned.rowGroupsPruned)
    val slices = planned.slices
    // key-grouped scans attach each split's partition key: Spark
    // groups them for storage-partitioned joins, and a runtime (DPP)
    // prune is fine — the validated contract is that the surviving
    // keys are a SUBSET of the reported partition values
    if (spjKeys.isDefined) slices.map {
      case sl: SegSlice =>
        val pv = sl.seg.asInstanceOf[FileSeg].partVals.get
        KeyedSlice(sl,
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            pv.toArray))
      case other => other
    } else slices
  }

  /** The planning counts of the splits Spark last asked for (a served
    * aggregate's come from its fold), reported on the driver. */
  @volatile private var plannedMetrics: Seq[(String, Long)] = servedMetrics

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.supported
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ScanMetrics.values(plannedMetrics)

  private def sliceOf(p: InputPartition): Option[SegSlice] = p match {
    case k: KeyedSlice => Some(k.slice)
    case x: SegSlice => Some(x)
    case _ => None
  }
  private def liveOf(s: SegSlice): Long =
    math.max(0L, s.physEnd - s.physStart - s.dels.length)

  /** Stable identity of one planned split — a PREDICATE-INDEPENDENT
    * key: pushed/DPP filters change WHICH splits survive planning,
    * never a survivor's key, so a REPEATABLE(seed) TABLESAMPLE
    * selects a consistent row subset across co-pushed predicates and
    * re-plans (over a fixed snapshot). File slices key on the data
    * file path (FNV-1a, 64-bit spread) plus the physical range start
    * — row-group slices of one file draw independently; heap slices
    * key on their snapshot-global live base. */
  private def splitKey(s: SegSlice): Long = s.seg match {
    case f: FileSeg =>
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < f.path.length) {
        h ^= f.path.charAt(i).toLong
        h *= 0x100000001b3L
        i += 1
      }
      MemScan.mix64(h ^ MemScan.mix64(s.physStart))
    case _ => MemScan.mix64(s.liveBase ^ MemScan.mix64(s.physStart))
  }

  /** planSlices → TABLESAMPLE selection → LIMIT/TopN truncation: the
    * ONE planning path, shared by [[planInputPartitions]] and
    * [[estimateStatistics]] so costing describes exactly the work the
    * scan will do.
    *
    * Sample selection first (cluster sampling at split grain — one
    * seeded Bernoulli draw on each split's stable [[splitKey]]):
    * included splits emit ALL their rows, so the truncations keep
    * exact live-count arithmetic over the sampled subset (a subset of
    * a range-disjoint chain stays range-disjoint). GRANULARITY
    * RE-CHECK: the push-time guard counted snapshot segments, but
    * pushed filters can prune the planned splits below that grain —
    * when the POST-FILTER split count is too coarse for the fraction
    * (expected included splits < 4) the sample DEGRADES to row grain:
    * every surviving split is planned with [[SegSlice.rowSample]]
    * set, the reader draws each row on its live id, and planning
    * truncation is skipped (a row-sampled split no longer emits its
    * full live span, so proved-count arithmetic would over-truncate).
    * The result's `rowGrain` flags the degrade. */
  private def planPipeline(
      preds: Seq[org.apache.spark.sql.sources.Filter]): MemScan.Planned = {
    val pruned = planSlices(preds)
    val slicesAll = pruned.slices
    val (slices0, rowGrain) = sample match {
      case Some((lo, hi, seed)) =>
        val width = hi - lo
        if (slicesAll.length * width < 4.0)
          (slicesAll.map {
            case s: SegSlice => s.copy(rowSample = sample)
            case other => other
          }, true)
        else
          (slicesAll.filter(p => sliceOf(p).forall { s =>
            val u = (MemScan.mix64(seed ^ splitKey(s)) >>> 11) *
              (1.0 / (1L << 53))
            u >= lo && u < hi
          }), false)
      case None => (slicesAll, false)
    }
    // LIMIT/TOP-N planning truncation — see [[truncateLimit]] /
    // [[truncateTopN]]. Both compose with filters through the
    // proved/straddling file classification ([[MemFilters.provesAll]]
    // — contradicted files were already dropped by planSlices).
    val slices =
      if (rowGrain) slices0
      else (limit, topN) match {
        case (_, Some((col, asc, n, strict))) =>
          truncateTopN(slices0, col, asc, n, strict, preds)
            .getOrElse(slices0)
        case (Some(n), _) =>
          truncateLimit(slices0, n, preds).getOrElse(slices0)
        case _ => slices0
      }
    pruned.copy(slices = slices, rowGrain = rowGrain)
  }

  /** The static-predicate planning, computed once per scan:
    * estimateStatistics (possibly called several times during
    * optimization) and a runtime-filter-free planInputPartitions
    * share it instead of re-walking the file metadata. */
  private lazy val basePipeline: MemScan.Planned = planPipeline(pushed)

  /** TABLESAMPLE metadata-aggregate support — each DRAWN cluster-grain
    * slice's own commit/footer statistics, in plan order: what
    * `MemScanBuilder.planSampled` folds to serve aggregates over a
    * pushed sample with zero data read. None when the sample degraded
    * to row grain (no fixed drawn split set exists). */
  private[sources] def sampledSliceStats()
      : Option[Vector[Option[CommitStats]]] = {
    val planned = planPipeline(Nil)
    if (planned.rowGrain) None
    else Some(planned.slices.flatMap(sliceOf).map(sliceStats).toVector)
  }

  /** The statistics describing EXACTLY this slice's rows: the file's
    * commit stats for a whole-file slice, the row group's own footer
    * stats for a row-group slice (cached footer metadata — no data
    * read). What lets LIMIT/TopN truncation and proved-coverage
    * arithmetic work at ROW-GROUP grain, so a table OPTIMIZE'd into
    * multi-gigabyte files still truncates "latest n" to one row group
    * instead of declining. */
  private def sliceStats(s: SegSlice): Option[CommitStats] =
    s.seg match {
      case f: FileSeg =>
        if (s.byteStart < 0) f.stats
        else ParquetRowIO.blockStats(f.path, dataSchema)
          .collectFirst { case (b, cs) if b.startByte == s.byteStart => cs }
      case _ => None
    }

  /** LIMIT planning truncation. Without filters: the slice prefix
    * covering `n` live rows (orderless LIMIT — any n live rows
    * satisfy it; live counts are exact metadata under delete
    * overlays). With filters (pushed or runtime): a patch-free file
    * whose stats PROVE every row satisfies the conjunction
    * ([[MemFilters.provesAll]] — an UPDATE overlay would invalidate
    * the stats) yields exactly its live count post-filter, so when
    * the proved files alone cover `n` the scan plans ONLY a minimal
    * covering subset of them and skips every straddling file outright
    * — `WHERE tenant = … LIMIT n` on a tenant-clustered table reads
    * O(1) files. Proved coverage short of `n` → plan everything
    * (straddling yields are unknowable; Spark's limit stops early at
    * runtime). */
  private def truncateLimit(slices: Array[InputPartition], n: Int,
      preds: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Array[InputPartition]] = {
    if (preds.isEmpty) {
      val out = Vector.newBuilder[InputPartition]
      var live = 0L
      val it = slices.iterator
      while (live < n && it.hasNext) {
        val p = it.next()
        val s = sliceOf(p).getOrElse(return None)
        live += liveOf(s)
        out += p
      }
      Some(out.result().toArray)
    } else {
      val out = Vector.newBuilder[InputPartition]
      var live = 0L
      val it = slices.iterator
      while (live < n && it.hasNext) {
        val p = it.next()
        val s = sliceOf(p).getOrElse(return None)
        val proved = s.patches.isEmpty && s.seg.isInstanceOf[FileSeg] &&
          MemFilters.provesAll(sliceStats(s), dataSchema, preds)
        if (proved) { live += liveOf(s); out += p }
      }
      if (live >= n) Some(out.result().toArray) else None
    }
  }

  /** TOP-N planning truncation: Some(covering prefix/suffix) when the
    * slices — whole files OR row-group ranges of large files, each
    * with its OWN exact statistics ([[sliceStats]]) — are PATCH-FREE
    * (an UPDATE overlay can move a key outside the recorded range,
    * voiding the chain proof), RANGE-DISJOINT in the leading sort
    * column — STRICTLY disjoint under a compound order, where a
    * boundary tie could be broken by a secondary key in the un-planned
    * slice — with tracked stats and ZERO nulls in it (null ordering
    * never decides). The n extremal live rows are then provably inside
    * the covering end of the chain, and Spark's sort+limit above
    * re-derives the exact answer from that superset — at row-group
    * grain, "latest n" on a table OPTIMIZE'd into multi-gigabyte
    * files reads ONE row group. With filters, only slices whose stats
    * PROVE the whole conjunction count toward coverage — straddling
    * slices are planned but contribute an unknowable yield, so the
    * walk stops only once PROVED rows cover n (`WHERE tenant = …
    * ORDER BY ts DESC LIMIT n` on a time-clustered table stops at the
    * first covering proved window instead of planning every file).
    * None = plan everything. */
  private def truncateTopN(slices: Array[InputPartition], col: String,
      asc: Boolean, n: Int, strict: Boolean,
      preds: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Array[InputPartition]] = {
    final case class F(s: InputPartition, min: Any, max: Any,
        live: Long, proved: Boolean)
    val fs = new Array[F](slices.length)
    var i = 0
    while (i < slices.length) {
      val sl = sliceOf(slices(i)).getOrElse(return None)
      if (sl.patches.nonEmpty) return None // stale stats under UPDATE
      val st = sliceStats(sl).getOrElse(return None)
      st.cols.get(col) match {
        case Some(c) if c.tracked && c.nulls == 0 &&
            c.min.isDefined && c.max.isDefined =>
          fs(i) = F(slices(i), c.min.get, c.max.get, liveOf(sl),
            preds.isEmpty ||
              MemFilters.provesAll(Some(st), dataSchema, preds))
        case _ => return None
      }
      i += 1
    }
    val ordered =
      if (asc) fs.sortWith((a, b) => MemFilters.cmp(a.min, b.min) < 0)
      else fs.sortWith((a, b) => MemFilters.cmp(a.max, b.max) > 0)
    // range-disjointness along the chosen direction (strict under a
    // compound order: a shared boundary value must not span files)
    var j = 1
    while (j < ordered.length) {
      val c =
        if (asc) MemFilters.cmp(ordered(j - 1).max, ordered(j).min)
        else -MemFilters.cmp(ordered(j - 1).min, ordered(j).max)
      if (if (strict) c >= 0 else c > 0) return None
      j += 1
    }
    val out = Vector.newBuilder[InputPartition]
    var proved = 0L
    val it = ordered.iterator
    while (proved < n && it.hasNext) {
      val f = it.next()
      if (f.proved) proved += f.live
      out += f.s
    }
    Some(out.result().toArray)
  }

  private def planSlices(preds0: Seq[org.apache.spark.sql.sources.Filter])
      : MemScan.Planned = {
    if (preds0.nonEmpty &&
        MemFilters.contradictsStats(stats, dataSchema, preds0))
      // zone-map skip: zero rows touched
      return MemScan.Planned(Array.empty, rowGrain = false, 0L, 0L)
    val out = Vector.newBuilder[InputPartition]
    var partPruned, rowGroupsPruned = 0L
    var liveBase = 0L
    snap.segs.foreach { ls =>
      ls.seg match {
        case f: FileSeg =>
          // FILE-LEVEL SKIP: a pushed predicate the FILE's own stats
          // contradict plans no split for it at all (Delta/Iceberg
          // file skipping off add.stats). Patched segments never skip
          // — an UPDATE overlay can introduce matching values the
          // file stats know nothing about; deletions only remove rows
          // and can't create matches. liveBase still advances: the
          // skipped file's rows keep their global positions.
          // PARTITION PRUNE (before stats): the file's partition
          // tuple proves emptiness against pushed AND runtime (DPP)
          // predicates with zero per-column statistics work
          val preds = preds0
          val partSkip = preds.nonEmpty && ls.patches.isEmpty &&
            f.partVals.exists(pv => Partitioning.contradicts(
              specOf(f.specId), pv, dataSchema, f.count, preds))
          if (partSkip) partPruned += 1
          val skip = partSkip || (preds.nonEmpty && ls.patches.isEmpty &&
            MemFilters.contradictsStats(f.stats, dataSchema, preds))
          if (!skip) {
            // ROW-GROUP SPLITS: a large file scans one split per row
            // group (footer metadata, cached — read parallelism is
            // not bound by write parallelism). Physical positions are
            // exact: each block's start row = the sum of preceding
            // block row counts, so `__pos` and the delta protocol
            // hold under intra-file parallelism. Deletions/patches
            // stay in GLOBAL physical coordinates (the reader walks
            // phys from physStart).
            val blocks =
              if (f.count > MemScan.TargetChunk) ParquetRowIO.blocks(f.path)
              else Vector.empty
            if (blocks.length > 1) {
              // ROW-GROUP SKIP inside a surviving file: a block whose
              // own footer statistics contradict the predicates plans
              // NO slice — position bookkeeping stays exact because
              // the block's row count is known (liveBase advances as
              // if scanned; deletions only remove rows and cannot
              // create matches; patched segments never skip).
              val bstats: Map[Long, CommitStats] =
                if (preds.nonEmpty && ls.patches.isEmpty)
                  ParquetRowIO.blockStats(f.path, dataSchema)
                    .map { case (b, cs) => b.startByte -> cs }.toMap
                else Map.empty
              var phys = 0L
              var lb = liveBase
              blocks.foreach { b =>
                val ps = phys
                val pe = phys + b.rows
                val dels = ls.dels.filter(d => d >= ps && d < pe)
                val patches = ls.patches.filter { case (pp, _) =>
                  pp >= ps && pp < pe
                }
                val bSkip = bstats.get(b.startByte).exists(cs =>
                  MemFilters.contradictsStats(Some(cs), dataSchema, preds))
                if (bSkip) rowGroupsPruned += 1
                else out += SegSlice(f, ps, pe, dels, patches, lb,
                  b.startByte, b.endByte)
                lb += (pe - ps) - dels.length
                phys = pe
              }
            } else
              out += SegSlice(f, 0L, f.count, ls.dels, ls.patches, liveBase)
          }
        case m: MemSeg =>
          val chunk = MemScan.TargetChunk
          if (m.count <= chunk)
            out += SegSlice(m, 0L, m.count, ls.dels, ls.patches, liveBase)
          else {
            // self-contained range slices: rows, deletions, and
            // patches re-based to the slice, so a task never ships
            // (or scans) rows outside its range
            val n = math.min(MemScan.MaxPartitions,
              ((m.count + chunk - 1) / chunk).toInt)
            val per = (m.count + n - 1) / n
            var lb = liveBase
            var k = 0L
            while (k * per < m.count) {
              val s = k * per
              val e = math.min(m.count, (k + 1) * per)
              val dels = ls.dels.filter(d => d >= s && d < e).map(_ - s)
              val patches = ls.patches.collect {
                case (p, r) if p >= s && p < e => (p - s, r)
              }
              out += SegSlice(
                MemSeg(m.rows.slice(s.toInt, e.toInt)), 0L, e - s,
                dels, patches, lb)
              lb += (e - s) - dels.length
              k += 1
            }
          }
      }
      liveBase += ls.liveCount
    }
    MemScan.Planned(out.result().toArray, rowGrain = false, partPruned,
      rowGroupsPruned)
  }

  /** COLUMNAR eligibility — decided per SCAN, all-or-nothing (Spark's
    * DSv2 contract forbids mixing row and columnar splits in one
    * scan): see [[MemScan.columnarFor]]. Every overlay rides the batch
    * path: position deletes and exact pushed filters drop rows through
    * a SELECTION-VECTOR view over the decoded batch
    * ([[ColumnarSelect]]), UPDATE patch rows are served in place
    * through the same view, heap insert tails are copied into batches,
    * and `__pos` is a COMPUTED long vector (live row-ids tracked
    * through the same pass). So the vectorized path survives DELETE,
    * UPDATE and MERGE on a 100 TB table, and the DML candidate scans
    * (MERGE/UPDATE/DELETE project `__pos`) vectorize too. Runtime (DPP)
    * filters stay fine: they prune whole files and the join above
    * re-applies the predicate row-exactly. */
  private lazy val columnarEligible: Boolean = !direct &&
    MemScan.columnarFor(snap,
      MemScan.fileReadSchema(outSchema, dataSchema, pushed))

  override def createReaderFactory(): PartitionReaderFactory =
    new SegReaderFactory(outSchema, dataSchema,
      MemScan.fileReadSchema(outSchema, dataSchema, pushed),
      if (direct) Seq.empty else pushed, direct, columnarEligible)
}

private[sources] object MemScan {

  /** Translate the runtime V2 predicates Spark hands a
    * SupportsRuntimeV2Filtering scan (DPP emits `IN`/`=` over one
    * column) into V1 filters with EXTERNAL literal values — the coin
    * the pruning layer speaks. Unknown shapes are dropped (runtime
    * filters are an optimization; the join re-applies them). */
  private[sources] def v2ToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def ext(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(l.value match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case v => v
        })
      case _ => None
    }
    val ch = p.children()
    p.name() match {
      case "IN" if ch.length >= 2 =>
        for {
          c <- colOf(ch(0))
          vs <- Some(ch.drop(1).flatMap(ext))
          if vs.length == ch.length - 1
        } yield org.apache.spark.sql.sources.In(c, vs)
      case "=" if ch.length == 2 =>
        (colOf(ch(0)), ext(ch(1))) match {
          case (Some(c), Some(v)) =>
            Some(org.apache.spark.sql.sources.EqualTo(c, v))
          case _ => (colOf(ch(1)), ext(ch(0))) match {
            case (Some(c), Some(v)) =>
              Some(org.apache.spark.sql.sources.EqualTo(c, v))
            case _ => None
          }
        }
      case _ => None
    }
  }
  /** One planning pass: the splits, whether a pushed sample degraded
    * to row grain, and the files and row groups pruning skipped. */
  private[sources] final case class Planned(slices: Array[InputPartition],
      rowGrain: Boolean, partPruned: Long, rowGroupsPruned: Long)

  /** Largest magnitude exactly representable in a double — the bound
    * under which a metadata-served AVG (exact integer sum / count)
    * matches Spark's double-accumulated Average bit-for-bit. */
  private[sources] val ExactInDouble: Long = 1L << 53

  /** splitmix64 finalizer — the TABLESAMPLE split-selection mix
    * (stable across JVMs and runs, so REPEATABLE(seed) holds). */
  private[sources] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rows per planned heap slice (and the single-partition threshold). */
  val TargetChunk: Int = 8192
  val MaxPartitions = 32

  /** A metadata-served aggregate scan: the answer rows ARE the output
    * (GROUP BY partition pushdown emits one row per partition tuple) —
    * a single identity slice, no store in sight. `metrics` are the
    * serving fold's planning counts. */
  def direct(schema: StructType, rows: Vector[InternalRow],
      metrics: Seq[(String, Long)]): MemScan =
    new MemScan(schema, schema,
      Snap(Vector(LiveSeg.raw(MemSeg(rows)))), None, Seq.empty,
      direct = true, streamStore = None, specs = Vector(Nil),
      analyzed = None, streamOptions = CaseInsensitiveStringMap.empty(),
      limit = None, topN = None, sample = None, servedMetrics = metrics)

  /** Chunked overlay-free slices of one heap row vector (the
    * `.changes` feed's partition planning). */
  def heapSlices(rows: Vector[InternalRow]): Array[InputPartition] = {
    val total = rows.length.toLong
    if (total <= TargetChunk)
      Array(SegSlice(MemSeg(rows), 0L, total, Vector.empty, Map.empty, 0L))
    else {
      val n = math.min(MaxPartitions,
        ((total + TargetChunk - 1) / TargetChunk).toInt)
      val per = ((total + n - 1) / n).toInt
      val out = Vector.newBuilder[InputPartition]
      var s = 0
      while (s < rows.length) {
        val e = math.min(rows.length, s + per)
        out += SegSlice(MemSeg(rows.slice(s, e)), 0L, (e - s).toLong,
          Vector.empty, Map.empty, s.toLong)
        s = e
      }
      out.result().toArray
    }
  }

  /** Whether reads of `snap` at `fileRead` decode columnar: the
    * snapshot holds at least one data file (a purely in-memory table
    * has nothing to decode and keeps the row path), the read schema is
    * non-empty and batch-decodable ([[ParquetBatchIO.supportsBatch]]),
    * and the session has not switched the path off
    * (`spark.graft.catalog.columnar.enabled`, the row path's A/B
    * lever). Scans and the commit-time reads of [[Snap]] share it. */
  def columnarFor(snap: Snap, fileRead: StructType): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.forall(
      _.conf.get("spark.graft.catalog.columnar.enabled", "true")
        .equalsIgnoreCase("true")) &&
      fileRead.nonEmpty &&
      snap.segs.exists(_.seg.isInstanceOf[FileSeg]) &&
      ParquetBatchIO.supportsBatch(fileRead)

  /** What a FILE split actually reads: the output's data columns plus
    * any pushed-filter column not already among them — column pruning
    * reaches the parquet pages; `__pos` is computed, never stored. */
  def fileReadSchema(out: StructType, data: StructType,
      pushed: Seq[org.apache.spark.sql.sources.Filter]): StructType = {
    // resolve by name from the PHYSICAL schema: the store's field
    // carries the parquet field id the id-based read matches on
    val outData = out.fields.filter(_.name != MemTable.PosCol)
      .map(f => if (data.fieldNames.contains(f.name))
        data(data.fieldIndex(f.name)) else f)
    val have = outData.map(_.name).toSet
    val extra = pushed.flatMap(_.references).distinct
      .filterNot(have).filter(n => data.fieldNames.contains(n))
      .map(n => data(data.fieldIndex(n)))
    StructType(outData ++ extra)
  }
}

/** Reader for one [[SegSlice]]. File rows stream at the pruned read
  * schema (VOLATILE, the [[ParquetRowIO]] contract Spark's own row
  * scans use); heap rows are the stable stored ones. Pushed filters
  * evaluate here — by NAME, so both layouts agree — and never shift
  * `__pos`; deletions do (they are not part of the live ordering).
  * The scan and the commit-time reads of [[Snap]] ([[rows]]) share
  * this one overlay walk, columnar or row-based. */
private[sources] final class SegReaderFactory(out: StructType,
    data: StructType, fileRead: StructType,
    pushed: Seq[org.apache.spark.sql.sources.Filter], direct: Boolean,
    columnar: Boolean = false)
    extends PartitionReaderFactory {

  /** Uniform across the scan's partitions by construction — the scan
    * decides `columnar` once for its whole snapshot (see
    * `MemScan.columnarFor`). */
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  /** Reader counts of the task's closed readers. Spark sets a task's
    * scan metrics to what its current reader reports, and a task may
    * read several splits in turn (a key-grouped partition), so each
    * reader reports these totals plus its own. Every task deserializes
    * its own copy of the factory. */
  private var closedOpened, closedEngaged, closedEvaluated = 0L

  /** A reader that counts in plain fields ([[ScanMetrics]]: columnar
    * readers opened, reads that engaged a parquet filter, rows the
    * pushed filters evaluated) and folds them into the task's totals
    * on close. */
  private abstract class Counted[T] extends PartitionReader[T] {
    protected var opened, engaged, evaluated = 0L
    override def currentMetricsValues()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      ScanMetrics.values(Seq(
        ScanMetrics.BatchReaders -> (closedOpened + opened),
        ScanMetrics.FiltersEngaged -> (closedEngaged + engaged),
        ScanMetrics.RowsEvaluated -> (closedEvaluated + evaluated)))
    /** Idempotent: a folded reader counts zero. */
    protected def foldCounts(): Unit = {
      closedOpened += opened; closedEngaged += engaged
      closedEvaluated += evaluated
      opened = 0L; engaged = 0L; evaluated = 0L
    }
  }

  private def sliceOf(p: InputPartition): SegSlice = p match {
    case k: KeyedSlice => k.slice
    case s => s.asInstanceOf[SegSlice]
  }

  /** Vectorized read of one slice: whole batches flow to Spark's
    * `ColumnarToRow` (whole-stage codegen) instead of one reader call
    * per row — the scan-bound fast path of the catalog data plane.
    * A file slice decodes through [[ParquetBatchIO]]; a heap slice's
    * rows are copied into batches ([[ColumnarSelect.HeapBatches]]).
    *
    * Three regimes, cheapest wins per batch:
    *  - clean (no overlay in range, no pushed filters, output = read
    *    schema): the source's batch passes through UNTOUCHED — the
    *    steady-state compacted-table path, zero overhead;
    *  - projected (output differs from the read schema, e.g. a
    *    computed `__pos`): a cached batch view over the OUTPUT columns;
    *  - selected (position deletes or UPDATE patches in range, pushed
    *    filters, a row-grain sample): a selection vector maps live,
    *    qualifying ordinals through [[ColumnarSelect.MappedColumnVector]]
    *    views — deletes skip, a patched position reads its patch row
    *    (the slice's patches, copied once into one batch) in place,
    *    exact filters evaluate row-wise, and the decode itself stays
    *    vectorized. */
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val slice = sliceOf(p)
    val posIdx = out.fields.indexWhere(_.name == MemTable.PosCol)
    // parquet-mr page/row-group skipping inside the split: only when
    // physical positions can't matter (no overlay on this range, no
    // `__pos` output — pages silently drop, shifting the positions the
    // overlay and the row-id column index; row-grain sampling keys on
    // live ids, so a page skip would make membership
    // predicate-dependent)
    val readerFilters =
      if (slice.dels.isEmpty && slice.patches.isEmpty && posIdx < 0 &&
          slice.rowSample.isEmpty) pushed
      else Nil
    val source: ColumnarSelect.BatchSource = slice.seg match {
      case FileSeg(path, _, _, _, _) =>
        if (slice.byteStart >= 0)
          ParquetBatchIO.open(path, fileRead, slice.byteStart,
            slice.byteEnd, readerFilters)
        else ParquetBatchIO.open(path, fileRead, readerFilters)
      case MemSeg(rows) => new ColumnarSelect.HeapBatches(rows,
        slice.physStart, slice.physEnd, data, fileRead)
    }
    val evalFilters = pushed.nonEmpty
    val pred: InternalRow => Boolean =
      if (evalFilters) MemFilters.compile(fileRead, pushed) else null
    // positional projection: output column j decodes from fileRead
    // index outIdx(j) (identity unless filter-only columns ride);
    // `__pos` (-1) is COMPUTED per batch, never decoded
    val outIdx: Array[Int] = out.fields.map(f =>
      if (f.name == MemTable.PosCol) -1 else fileRead.fieldIndex(f.name))
    val dels: Array[Long] = slice.dels.toArray // O(1) per-row probes
    // the slice's patch rows in physical order, one batch at the read
    // layout: selection ordinal ~k serves patch k
    val patchPos: Array[Long] = slice.patches.keys.toArray.sorted
    val patches: org.apache.spark.sql.vectorized.ColumnarBatch =
      if (patchPos.isEmpty) null
      else new ColumnarSelect.RowColumns(data, fileRead, patchPos.length)
        .fill(patchPos.length, k => slice.patches(patchPos(k)))
    val rs = slice.rowSample.orNull
    val passThrough = !evalFilters && dels.isEmpty && patches == null &&
      posIdx < 0 && outIdx.length == fileRead.length && rs == null
    new Counted[org.apache.spark.sql.vectorized.ColumnarBatch] {
      if (slice.seg.isInstanceOf[FileSeg]) opened = 1L
      if (source.engaged) engaged = 1L
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      private var phys = slice.physStart
      private var livePos = slice.liveBase // next live row-id (__pos)
      private var delIdx = 0
      private var patchIdx = 0
      private var sel: Array[Int] = _
      private val holder = new ColumnarSelect.SelHolder
      private var posVec: ColumnarSelect.LongValuesVector = _
      private var mappedBatch
          : org.apache.spark.sql.vectorized.ColumnarBatch = _
      private var projBatch
          : org.apache.spark.sql.vectorized.ColumnarBatch = _
      // the decoder reuses one batch object; rebuild views if it swaps
      private var viewSrc: org.apache.spark.sql.vectorized.ColumnarBatch = _

      private def buildViews(
          b: org.apache.spark.sql.vectorized.ColumnarBatch): Unit = {
        posVec =
          if (posIdx >= 0) new ColumnarSelect.LongValuesVector else null
        val mv: Array[org.apache.spark.sql.vectorized.ColumnVector] =
          out.fields.indices.map { j =>
            if (j == posIdx)
              posVec: org.apache.spark.sql.vectorized.ColumnVector
            else new ColumnarSelect.MappedColumnVector(
              b.column(outIdx(j)), holder,
              if (patches == null) null else patches.column(outIdx(j)))
          }.toArray
        mappedBatch = new org.apache.spark.sql.vectorized.ColumnarBatch(mv)
        val pv: Array[org.apache.spark.sql.vectorized.ColumnVector] =
          out.fields.indices.map { j =>
            if (j == posIdx)
              posVec: org.apache.spark.sql.vectorized.ColumnVector
            else b.column(outIdx(j))
          }.toArray
        projBatch = new org.apache.spark.sql.vectorized.ColumnarBatch(pv)
      }

      override def next(): Boolean = {
        while (true) {
          val b = source.nextBatch()
          if (b == null) return false
          if (passThrough) { batch = b; return true }
          val n = b.numRows()
          val start = phys
          phys += n
          if (viewSrc ne b) { viewSrc = b; buildViews(b) }
          val overlayHere =
            (delIdx < dels.length && dels(delIdx) < start + n) ||
              (patchIdx < patchPos.length && patchPos(patchIdx) < start + n)
          if (!overlayHere && !evalFilters && rs == null) {
            // projection-only: cached view over the output columns;
            // every row is live, so row-ids are contiguous
            if (posIdx >= 0) {
              val vals = posVec.ensure(n)
              var i = 0
              while (i < n) { vals(i) = livePos + i; i += 1 }
            }
            livePos += n
            projBatch.setNumRows(n)
            batch = projBatch
            return true
          }
          // SELECTION: live ordinals surviving deletes + exact
          // filters, a patched position pointing into the patch batch;
          // `__pos` counts every NON-DELETED row (filters never shift
          // the live ordering — same as the row path)
          if (sel == null || sel.length < n) sel = new Array[Int](n)
          val posVals = if (posIdx >= 0) posVec.ensure(n) else null
          val liveStart = livePos
          var k = 0
          var i = 0
          while (i < n) {
            val ph = start + i
            val patched = patchIdx < patchPos.length && patchPos(patchIdx) == ph
            if (patched) patchIdx += 1
            if (delIdx < dels.length && dels(delIdx) == ph) delIdx += 1
            else {
              val rowId = livePos
              livePos += 1
              val src = if (patched) ~(patchIdx - 1) else i
              if ((!evalFilters ||
                    pred(if (patched) patches.getRow(~src) else b.getRow(i))) &&
                  (rs == null || {
                    val u = (MemScan.mix64(rs._3 ^ MemScan.mix64(rowId))
                      >>> 11) * (1.0 / (1L << 53))
                    u >= rs._1 && u < rs._2
                  })) {
                sel(k) = src
                if (posVals != null) posVals(k) = rowId
                k += 1
              }
            }
            i += 1
          }
          // the filters saw every live row of the batch
          if (evalFilters) evaluated += livePos - liveStart
          if (k > 0) {
            holder.sel = sel
            mappedBatch.setNumRows(k)
            batch = mappedBatch
            return true
          }
          // whole batch deleted/filtered: advance to the next one
        }
        false // unreachable
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
        batch
      override def close(): Unit = {
        source.close()
        if (patches != null) patches.close()
        foldCounts()
      }
    }
  }

  /** One slice's rows through this factory's reader — how the
    * commit-time reads of [[Snap]] walk overlays exactly as the scan
    * does. Columnar output comes back as VOLATILE UnsafeRows (valid
    * until the next step; copy to retain); row-reader output keeps that
    * reader's contract (volatile file rows, stable heap rows). Only
    * rows passing `keep` (tested before the copy into an UnsafeRow)
    * are returned. Closes itself on exhaustion; `close()` for an early
    * exit. */
  private[sources] def rows(s: SegSlice,
      keep: InternalRow => Boolean = _ => true)
      : Iterator[InternalRow] with AutoCloseable = {
    val reader: PartitionReader[_] =
      if (columnar) createColumnarReader(s) else createReader(s)
    val toRow: InternalRow => InternalRow =
      if (columnar)
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(out)
      else identity
    new Iterator[InternalRow] with AutoCloseable {
      private var cur: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var row: InternalRow = _
      private var done = false
      override def hasNext: Boolean = {
        while (row == null && !done) {
          if (cur.hasNext) {
            val r = cur.next()
            if (keep(r)) row = r
          } else if (!reader.next()) close()
          else cur = reader.get() match {
            case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
              b.rowIterator()
            case r: InternalRow =>
              java.util.Collections.singletonList(r).iterator()
          }
        }
        row != null
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("slice exhausted")
        val r = row
        row = null
        toRow(r)
      }
      override def close(): Unit =
        if (!done) { done = true; reader.close() }
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val slice = sliceOf(p)
    new Counted[InternalRow] {
      private val outHasPos = out.fields.exists(_.name == MemTable.PosCol)
      private val rs = slice.rowSample.orNull
      private val fileIter = slice.seg match {
        case FileSeg(path, _, _, _, _) =>
          // hand parquet-mr the pushed filters (page/dictionary/
          // record-level skipping INSIDE the row group) only when
          // dropped rows can't shift anything the caller observes:
          // no `__pos` output, no delete/patch overlay on this range.
          // DML scans keep the exact unfiltered walk.
          val fl = if (!direct && !outHasPos && slice.dels.isEmpty &&
              slice.patches.isEmpty && slice.rowSample.isEmpty) pushed
            else Nil
          if (slice.byteStart >= 0)
            ParquetRowIO.open(path, fileRead, slice.byteStart,
              slice.byteEnd, fl)
          else ParquetRowIO.open(path, fileRead, fl)
        case _ => null
      }
      if (fileIter != null && fileIter.engaged) engaged = 1L
      private val memRows = slice.seg match {
        case MemSeg(rows) => rows
        case _ => null
      }
      // compiled once per reader: eval() pays name resolution and
      // literal conversion per row per filter otherwise
      private val predFile: InternalRow => Boolean =
        if (pushed.isEmpty) null else MemFilters.compile(fileRead, pushed)
      private val predData: InternalRow => Boolean =
        if (pushed.isEmpty) null else MemFilters.compile(data, pushed)
      private val filtering = pushed.nonEmpty && !direct
      // per-output-field source index in each layout; -1 = __pos
      private def srcIdx(layout: StructType): Array[Int] =
        out.fields.map(f =>
          if (f.name == MemTable.PosCol) -1 else layout.fieldIndex(f.name))
      private val fromFile = if (fileIter == null) null else srcIdx(fileRead)
      private val fromData = srcIdx(data)
      private val identityFile = fileIter != null && out == fileRead

      private var phys = slice.physStart - 1
      private var live = slice.liveBase - 1
      private var delIdx = 0
      private var row: InternalRow = _
      private var rowIsFileLayout = false
      private var rowLive = -1L

      override def next(): Boolean = {
        while (true) {
          phys += 1
          if (phys >= slice.physEnd || (fileIter != null && !fileIter.hasNext)) {
            close()
            return false
          }
          val raw = if (fileIter != null) fileIter.next()
            else memRows(phys.toInt)
          if (delIdx < slice.dels.length && slice.dels(delIdx) == phys) {
            delIdx += 1 // deleted: not part of the live ordering
          } else {
            live += 1
            val (r, isFile) = slice.patches.get(phys) match {
              case Some(patch) => (patch, false) // patches are table-layout
              case None => (raw, fileIter != null)
            }
            val keep = (!filtering || {
              evaluated += 1
              if (isFile) predFile(r) else predData(r)
            }) &&
              (rs == null || {
                val u = (MemScan.mix64(rs._3 ^ MemScan.mix64(live))
                  >>> 11) * (1.0 / (1L << 53))
                u >= rs._1 && u < rs._2
              })
            if (keep) {
              row = r; rowIsFileLayout = isFile; rowLive = live
              return true
            }
          }
        }
        false // unreachable
      }

      // rows written before an ADD COLUMN carry a prefix arity:
      // appended columns read as NULL (the Delta AddColumn read
      // behavior — no rewrite of history). File rows were read at the
      // requested schema, so the format already padded them.
      override def get(): InternalRow = {
        if (direct) return row
        if (rowIsFileLayout && identityFile) return row
        if (!rowIsFileLayout && !outHasPos && out == data &&
            row.numFields == data.length) return row
        val idx = if (rowIsFileLayout) fromFile else fromData
        val layout = if (rowIsFileLayout) fileRead else data
        val vals = new Array[Any](idx.length)
        var j = 0
        while (j < idx.length) {
          val s = idx(j)
          vals(j) =
            if (s < 0) rowLive
            else if (s < row.numFields && !row.isNullAt(s))
              row.get(s, layout(s).dataType)
            else null
          j += 1
        }
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vals)
      }
      override def close(): Unit = {
        if (fileIter != null) fileIter.close()
        foldCounts()
      }
    }
  }
}

/** Version offset for the catalog's streaming read. */
private[sources] final case class MemOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** Micro-batch stream over the delta log: initial offset sits just
  * below the oldest retained version, so the first batch delivers the
  * full existing table (consolidated snapshot = pure inserts) and
  * every later batch exactly the rows inserted by the commits in its
  * offset range — O(changes) metadata, never a table rescan. Batches
  * plan the inserted SEGMENTS as splits, so even the initial load of
  * a huge file-backed table streams file-by-file instead of
  * materializing rows. */
/** ADMISSION CONTROL shared by the table and CDF streaming sources
  * (`maxRowsPerTrigger` / `maxVersionsPerTrigger` read options +
  * `Trigger.AvailableNow`): a 100 TB table read as a stream must NOT
  * become one giant first micro-batch — the limit bounds each batch
  * to whole VERSIONS (the offset grain, so exactly-once bookkeeping
  * is untouched) whose cumulative rows stay within budget, always
  * serving at least one version so the stream progresses (the Delta
  * maxFilesPerTrigger convention). AvailableNow pins the head at
  * start and drains up to it in bounded batches, then stops — the
  * backfill shape. */
private[sources] trait VersionAdmission
    extends org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming._

  protected def admStore: MemStore
  protected def admOptions: CaseInsensitiveStringMap
  /** Rows this source would emit for exactly version `v`. */
  protected def rowsAt(v: Int): Long

  private lazy val maxRows: Long =
    Option(admOptions.get("maxRowsPerTrigger")).map(_.toLong).getOrElse(0L)
  private lazy val maxVersions: Int =
    Option(admOptions.get("maxVersionsPerTrigger")).map(_.toInt).getOrElse(0)
  @volatile private var availableNowCap: Int = -1

  override def getDefaultReadLimit: ReadLimit = {
    require(maxRows >= 0 && maxVersions >= 0,
      "maxRowsPerTrigger / maxVersionsPerTrigger must be positive")
    val ls = Seq(
      if (maxRows > 0) Some(ReadLimit.maxRows(maxRows)) else None,
      if (maxVersions > 0) Some(ReadLimit.maxFiles(maxVersions)) else None
    ).flatten
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = admStore.currentVersion

  override def reportLatestOffset(): Offset =
    MemOffset(admStore.currentVersion)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MemOffset].version
    val cap =
      if (availableNowCap >= 0) availableNowCap else admStore.currentVersion
    def bounds(l: ReadLimit): (Long, Int) = l match {
      case r: ReadMaxRows => (r.maxRows(), 0)
      case f: ReadMaxFiles => (0L, f.maxFiles())
      case c: CompositeReadLimit =>
        c.getReadLimits.map(bounds).reduce((a, b) =>
          (math.max(a._1, b._1), math.max(a._2, b._2)))
      case _ => (0L, 0)
    }
    val (rowCap, verCap) = bounds(limit)
    var e = math.max(s, admStore.oldestVersion - 1)
    var rows = 0L
    var versions = 0
    var full = false
    while (!full && e < cap) {
      val nRows = rowsAt(e + 1)
      // at least one version per batch; stop BEFORE exceeding the row
      // budget afterwards, and AT the version budget
      if (versions > 0 && rowCap > 0 && rows + nRows > rowCap) full = true
      else {
        e += 1; rows += nRows; versions += 1
        if (rowCap > 0 && rows >= rowCap) full = true
        if (verCap > 0 && versions >= verCap) full = true
      }
    }
    MemOffset(e)
  }
}

private[sources] final class MemMicroBatchStream(store: MemStore,
    readerFactory: () => PartitionReaderFactory,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with VersionAdmission {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override protected def admStore: MemStore = store
  override protected def admOptions: CaseInsensitiveStringMap = options
  override protected def rowsAt(v: Int): Long = store.insertRowsAt(v)

  override def initialOffset(): Offset = MemOffset(store.oldestVersion - 1)
  override def latestOffset(): Offset = MemOffset(store.currentVersion)
  override def deserializeOffset(json: String): Offset =
    MemOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MemOffset].version
    val e = end.asInstanceOf[MemOffset].version
    if (e <= s) Array.empty
    else {
      // a FRESH stream's initial offset is oldestVersion - 1 (first
      // batch = the consolidated base). A CHECKPOINTED offset below
      // that means retention expired commits the checkpoint never
      // consumed-past — resuming would silently re-deliver the whole
      // consolidated snapshot as duplicates. Fail loudly instead (the
      // Delta startingVersion-below-retention convention).
      require(s >= store.oldestVersion - 1,
        s"checkpointed offset $s predates the retained window " +
          s"[${store.oldestVersion}, ${store.currentVersion}] — " +
          "resuming would re-deliver the consolidated base; reset the " +
          "checkpoint or retain more history")
      var liveBase = 0L
      store.insertSegsBetween(s + 1, e).map { seg =>
        val slice = SegSlice(seg, 0L, seg.count, Vector.empty, Map.empty,
          liveBase)
        liveBase += seg.count
        slice: InputPartition
      }.toArray
    }
  }

  // reuse the batch scan's reader verbatim: pruned schemas, pushed
  // filters, and prefix-arity padding behave identically under the
  // stream (a batch-position __pos is batch-local by construction)
  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory()
}

/** DELTA-BASED row-level operation (the `SupportsDelta` side of the
  * DSv2 contract — Iceberg's position-delta class): the scan exposes
  * `__pos` as the row id, Spark's `WriteDelta` plan routes each
  * affected row to the writer's delete/update/insert verb, and the
  * commit applies O(delta) to the store — never a whole-table
  * rewrite. */
private[sources] final class MemDeltaOperation(store: MemStore,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemScanBuilder(store, None)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new MemDeltaWrite(store)
    }
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(MemTable.PosCol))
}

/** The delta write: each task writer accumulates (position-addressed)
  * deletes/updates plus inserts; the driver-side commit applies them
  * as ONE atomic version. Rows arrive in reused buffers — copy on
  * receipt, exactly like the append writer. */
private[sources] final class MemDeltaWrite(store: MemStore)
    extends DeltaWrite with DeltaBatchWrite {
  override def toBatch: DeltaBatchWrite = this
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    val phys = store.physSchema
    val l2p = ColumnMapping.logicalToPhys(phys)
    val check = Constraints.rowCheck(
      org.apache.spark.sql.SparkSession.active, store.constraints, phys)
    new DeltaWriterFactory {
      override def createWriter(partitionId: Int,
          taskId: Long): DeltaWriter[InternalRow] =
        new DeltaWriter[InternalRow] {
          private val deletes = Vector.newBuilder[Long]
          private val updates = Vector.newBuilder[(Long, InternalRow)]
          private val inserts = Vector.newBuilder[InternalRow]
          private def checkArity(row: InternalRow): InternalRow = {
            require(row.numFields == l2p.length,
              s"delta row arity ${row.numFields} for " +
                s"${l2p.length}-column table")
            check.validate(row) // MERGE/UPDATE invariants, logical layout
            ColumnMapping.expand(row.copy(), phys, l2p)
          }
          override def delete(meta: InternalRow, id: InternalRow): Unit =
            deletes += id.getLong(0)
          override def update(meta: InternalRow, id: InternalRow,
              row: InternalRow): Unit =
            updates += ((id.getLong(0), checkArity(row)))
          override def insert(row: InternalRow): Unit =
            inserts += checkArity(row)
          override def commit(): WriterCommitMessage =
            MemDeltaCommit(deletes.result(), updates.result(),
              inserts.result())
          override def abort(): Unit = ()
          override def close(): Unit = ()
        }
    }
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ds = Vector.newBuilder[Long]
    val us = Vector.newBuilder[(Long, InternalRow)]
    val is = Vector.newBuilder[InternalRow]
    messages.foreach {
      case MemDeltaCommit(d, u, i) => ds ++= d; us ++= u; is ++= i
      case _ =>
    }
    store.applyRowDelta(ds.result(), us.result(), is.result())
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] final case class MemDeltaCommit(deletes: Vector[Long],
    updates: Vector[(Long, InternalRow)], inserts: Vector[InternalRow])
  extends WriterCommitMessage

/** The append/overwrite write side (INSERT / INSERT OVERWRITE / CTAS;
  * row-level DML goes through [[MemDeltaWrite]]). On the durable
  * plane each WRITE TASK streams its rows straight into its own
  * parquet data files ([[DataFileWriter]]: one per partition tuple,
  * exact stats folded on the way) and sends back only file
  * references — the rows never pass through the driver and
  * never sit in one heap, which is what lets the same commit path
  * ingest a 100 TB table. In-memory tables buffer rows in the commit
  * message (the scratch path). */
private[sources] final class MemWrite(store: MemStore, mode: Int,
    queryId: String = "",
    compact: Option[(Set[String], Int)] = None,
    txnId: Option[String] = None)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this

  /** NATIVE streaming sink (`writeStream.toTable`): each micro-batch
    * lands as ONE atomic commit carrying its (queryId, epochId)
    * transaction marker, so a checkpoint-replayed epoch after a crash
    * commits NOTHING — exactly-once into the table and its change
    * feed, straight through the DSv2 StreamingWrite path (no
    * foreachBatch detour). Appends only: streaming output modes that
    * replace state route through foreachBatch MERGE as before. */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      require(mode == FileCommit.Append,
        "streaming writes append; use foreachBatch for overwrite/merge")
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.streaming
            .StreamingDataWriterFactory = {
        val batch = createBatchWriterFactory(info)
        (partitionId: Int, taskId: Long, epochId: Long) =>
          batch.createWriter(partitionId, taskId)
      }
      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        if (store.dataDirStr.isDefined) {
          val refs = MemWrite.fileRefs(messages)
          val committed = store.commitStreamFiles(queryId, epochId, refs,
            MemWrite.foldStats(refs, store.physSchema))
          // a replayed epoch commits nothing: its freshly-written
          // files are strays — delete them now (the vacuum's grace
          // window would otherwise hold them for a day)
          if (!committed) abort(epochId, messages)
        } else {
          val rows = messages.toSeq.flatMap {
            case MemCommit(r) => r
            case _ => Seq.empty
          }
          store.appendStreamRows(queryId, epochId, rows)
        }
      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        MemWrite.this.abort(messages)
    }

  /** Partitioned writes CLUSTER rows by the partition source columns
    * and SORT within tasks — Spark plans the one shuffle that turns a
    * partitioned ingest into one-or-few files per partition tuple per
    * task (the "optimized write" shape) instead of one file per
    * (task x partition) at every grain. CLUSTERED BY tables
    * ([[ClusterSpec]]) additionally demand a RANGE distribution over
    * the clustering key (unpartitioned) or append the key to the
    * in-task ordering (partitioned), so every landed file covers a
    * narrow key range and per-file min/max stats skip from the first
    * insert — no OPTIMIZE pass. Plain unpartitioned writes declare
    * nothing and stay shuffle-free. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    val cluster = store.clusterCols
    if (store.partSpec.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        store.partSpec.map(p => Expressions.identity(p.col)
          : org.apache.spark.sql.connector.expressions.Expression).toArray)
    else if (cluster.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.ordered(
        cluster.map(c => Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)).toArray)
    else
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    MemWrite.ordering(store)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val phys = store.physSchema
    val l2p = ColumnMapping.logicalToPhys(phys)
    val check = Constraints.rowCheck(
      org.apache.spark.sql.SparkSession.active, store.constraints, phys)
    store.dataDirStr match {
      case Some(dir) => new DataFileWriter.Factory(dir, phys, l2p,
        store.partSpec, store.currentSpecId, check)
      case None => new HeapWriterFactory(phys, l2p, check)
    }
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (store.dataDirStr.isDefined) {
      // messages arrive in partition order — the deterministic global
      // row ordering `__pos` is defined over. Each task's own folded
      // stats become the FILE's stats (the Delta add.stats analog the
      // scan's file-level skip reads).
      val refs = MemWrite.fileRefs(messages)
      (txnId, compact) match {
        case (Some(id), _) =>
          require(mode == FileCommit.Append,
            "transaction legs append; overwrites are not transactional")
          MemCatalog.txnFor(id).getOrElse(throw new IllegalStateException(
            s"unknown or completed transaction $id — writes with " +
              "graft.txn.id must run inside MemCatalog.inTransaction"))
            .park(store, refs, MemWrite.foldStats(refs, store.physSchema))
        case (None, Some((removeNames, expect))) =>
          store.compactFiles(removeNames, refs, expect)
        case (None, None) =>
          store.commitFiles(refs, MemWrite.foldStats(refs, store.physSchema),
            mode)
      }
    } else {
      val rows = messages.toSeq.flatMap {
        case MemCommit(r) => r
        case _ => Seq.empty
      }
      if (mode == FileCommit.Append) store.append(rows)
      else store.replace(rows, rewrite = mode == FileCommit.Rewrite)
    }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MemWrite.deleteFiles(store, messages)
}

private[sources] object MemWrite {

  /** The in-task sort every file write of `store` requires: partition
    * columns first, then the CLUSTERED BY key ([[ClusterSpec]]), so a
    * landed file's min/max range on the key is as narrow as its rows
    * allow — appends and partition overwrites alike. */
  def ordering(store: MemStore)
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val partCols = store.partSpec.map(_.col)
    val keys = partCols ++ store.clusterCols.filterNot(partCols.contains)
    keys.map(c =>
      Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray
  }

  /** The data files a write's task messages landed, in partition order,
    * each carrying its task-folded stats; empty task files are left
    * out. */
  def fileRefs(messages: Array[WriterCommitMessage]): Seq[FileRef] =
    messages.toSeq.flatMap {
      case MemFilesCommit(files) => files
      case _ => Seq.empty
    }

  /** Delete the data files an aborted write's tasks landed. */
  def deleteFiles(store: MemStore,
      messages: Array[WriterCommitMessage]): Unit =
    fileRefs(messages).foreach(f => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(store.dataDirStr.get, f.name)))

  /** The commit's statistics: every landed file's stats folded over an
    * empty base of the table's physical schema. */
  def foldStats(refs: Seq[FileRef], phys: StructType): CommitStats =
    refs.flatMap(_.stats).foldLeft(CommitStats.empty(phys))(CommitStats.merge)
}

/** PARTITION OVERWRITE write (`INSERT OVERWRITE ... PARTITION` /
  * dynamic mode): write tasks stream the fresh partition files
  * exactly like an append; the driver-side commit then drops every
  * existing file whose partition tuple the overwrite selects — by
  * the STATIC filter (each file's one tuple either satisfies it or
  * not), or dynamically by the tuple set the new data actually
  * touches — and adds the new files, ONE atomic version. Requires a
  * partitioned file plane with identity transforms covering the
  * filtered columns. */
private[sources] final class MemOverwriteWrite(store: MemStore,
    owFilters: Option[Seq[org.apache.spark.sql.sources.Filter]],
    dynamic: Boolean)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (store.partSpec.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        store.partSpec.map(p => Expressions.identity(p.col)
          : org.apache.spark.sql.connector.expressions.Expression).toArray)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    MemWrite.ordering(store)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    require(store.partSpec.nonEmpty && store.dataDirStr.isDefined,
      "overwrite by filter / dynamic partition overwrite needs a " +
        "partitioned durable table")
    owFilters.foreach { fs =>
      val idCols = store.partSpec.collect { case PIdentity(c) => c }.toSet
      val refs = fs.flatMap(_.references).distinct
      require(refs.nonEmpty && refs.forall(idCols.contains),
        s"overwrite filter may only reference identity partition " +
          s"columns ${idCols.mkString(", ")}, got ${refs.mkString(", ")}")
    }
    val phys = store.physSchema
    new DataFileWriter.Factory(store.dataDirStr.get, phys,
      ColumnMapping.logicalToPhys(phys), store.partSpec,
      store.currentSpecId,
      Constraints.rowCheck(org.apache.spark.sql.SparkSession.active,
        store.constraints, phys))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val add = MemWrite.fileRefs(messages)
    // snapshot AND its version captured atomically: overwriteFiles
    // re-checks the version inside its lock, so a same-JVM commit
    // landing between this read and the publication aborts loudly
    // instead of silently surviving the overwrite
    val (snap, readVersion) = store.currentStateVersioned()
    // every existing segment must be a tuple-tagged file — a heap
    // insert tail could hold rows of ANY partition and cannot be
    // dropped selectively
    val curSpecId = store.currentSpecId
    snap.segs.foreach(ls => ls.seg match {
      case f: FileSeg if f.partVals.isDefined && f.specId == curSpecId => ()
      case f: FileSeg if f.partVals.isDefined =>
        throw new UnsupportedOperationException(
          "partition overwrite needs every data file under the CURRENT " +
            "partition spec (run OPTIMIZE first to rewrite evolved-away " +
            "generations)")
      case _ => throw new UnsupportedOperationException(
        "partition overwrite needs a fully partitioned file plane " +
          "(run OPTIMIZE first to fold row-level inserts into files)")
    })
    val spec = store.partSpec
    val phys = store.physSchema
    val removeNames: Set[String] = owFilters match {
      case Some(fs) =>
        // STATIC: a file goes iff its tuple satisfies the filter —
        // evaluated on a one-row frame of the partition columns
        val cols = spec.map(p => phys(phys.fieldIndex(p.col)))
        val sub = org.apache.spark.sql.types.StructType(cols)
        snap.segs.iterator.map(_.seg.asInstanceOf[FileSeg]).filter { f =>
          val row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(f.partVals.get.toArray)
          MemFilters.eval(sub, fs, row)
        }.map(f =>
          java.nio.file.Paths.get(f.path).getFileName.toString).toSet
      case None =>
        // DYNAMIC: replace exactly the tuples the new data touches
        val touched = add.flatMap(_.partVals).toSet
        snap.segs.iterator.map(_.seg.asInstanceOf[FileSeg])
          .filter(f => touched.contains(f.partVals.get))
          .map(f =>
            java.nio.file.Paths.get(f.path).getFileName.toString).toSet
    }
    store.overwriteFiles(removeNames, add, readVersion)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MemWrite.deleteFiles(store, messages)
}

/** Rows to immutable parquet data files under `dir`, one open file per
  * partition tuple of `spec` (an unpartitioned table writes one file
  * and builds no tuple). Each file folds its own stats and count on
  * the way; [[close]] returns the landed files as [[FileRef]]s in the
  * order they were opened, with the tuple and `specId` on partitioned
  * files and no tuple and spec id 0 otherwise (the commit codec writes
  * no spec id without a tuple). No row, no file. Tuple values are
  * copied on capture — file-backed input rows are volatile.
  *
  * `preserveOrder` cuts a new file whenever the tuple changes along the
  * input order instead of routing a row back to its tuple's open file:
  * each file stays single-tuple and the files, read in order, give the
  * rows in input order (expiry consolidation under retained row-level
  * deltas, whose recorded positions must address the same rows). */
private[sources] final class DataFileWriter(dir: String, schema: StructType,
    spec: Seq[PartTransform], specId: Int, tag: String,
    preserveOrder: Boolean = false) {
  private final class OpenFile(val tuple: Option[Vector[Any]]) {
    val name = CommitLog.newDataFileName(tag)
    val w: ParquetRowIO.RowFileWriter =
      ParquetRowIO.writer(s"$dir/$name", schema)
    val acc = new CommitStats.Acc(schema)
    var n = 0L
  }
  private val idx = spec.map(p => schema.fieldIndex(p.col)).toArray
  private val dts = idx.map(schema(_).dataType)
  private val byTuple =
    scala.collection.mutable.HashMap.empty[Vector[Any], OpenFile]
  private val files = scala.collection.mutable.ArrayBuffer.empty[OpenFile]
  private var last: OpenFile = _ // unpartitioned: the one file

  private def tupleOf(r: InternalRow): Vector[Any] =
    Vector.tabulate(spec.length) { j =>
      val raw = if (idx(j) >= r.numFields || r.isNullAt(idx(j))) null
        else r.get(idx(j), dts(j))
      spec(j).eval(raw, dts(j)) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
        case x => x
      }
    }

  private def open(tuple: Option[Vector[Any]]): OpenFile = {
    if (preserveOrder && last != null) last.w.close()
    last = new OpenFile(tuple)
    files += last
    last
  }

  def write(r: InternalRow): Unit = {
    val f =
      if (spec.isEmpty) { if (last == null) open(None) else last }
      else {
        val t = tupleOf(r)
        if (preserveOrder) {
          if (last == null || !last.tuple.contains(t)) open(Some(t)) else last
        } else byTuple.getOrElseUpdate(t, open(Some(t)))
      }
    f.w.write(r)
    f.acc.add(r)
    f.n += 1
  }

  def close(): Seq[FileRef] = {
    if (preserveOrder) { if (last != null) last.w.close() }
    else files.foreach(_.w.close())
    files.iterator.map(f => FileRef(f.name, f.n, Some(f.acc.result),
      f.tuple, if (f.tuple.isDefined) specId else 0)).toVector
  }

  def abort(): Unit = files.foreach { f =>
    f.w.close()
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/${f.name}"))
  }
}

private[sources] object DataFileWriter {
  /** Task side of the durable plane: each write task streams its rows
    * through its own [[DataFileWriter]] into `part-*` files and sends
    * back only their references — the rows never pass through the
    * driver. Input rows arrive at the LOGICAL arity and expand to the
    * physical layout after the write-time constraints check them. */
  final class Factory(dir: String, schema: StructType, l2p: Array[Int],
      spec: Seq[PartTransform], specId: Int, check: RowCheck)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val files = new DataFileWriter(dir, schema, spec, specId, "part")
        override def write(record: InternalRow): Unit = {
          require(record.numFields == l2p.length,
            s"unexpected write row arity ${record.numFields} for " +
              s"${l2p.length}-column table")
          check.validate(record)
          files.write(ColumnMapping.expand(record, schema, l2p))
        }
        override def commit(): WriterCommitMessage =
          MemFilesCommit(files.close().toVector)
        override def abort(): Unit = files.abort()
        override def close(): Unit = ()
      }
  }
}

/** The data files one write task landed. */
private[sources] final case class MemFilesCommit(files: Vector[FileRef])
  extends WriterCommitMessage

/** Task-side writer of the in-memory plane: rows buffer in the commit
  * message. Rows arrive in reused buffers — copy on receipt. */
private[sources] final class HeapWriterFactory(schema: StructType,
    l2p: Array[Int], check: RowCheck) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = Vector.newBuilder[InternalRow]
      override def write(record: InternalRow): Unit = {
        require(record.numFields == l2p.length,
          s"unexpected write row arity ${record.numFields} for " +
            s"${l2p.length}-column table")
        check.validate(record)
        buf += ColumnMapping.expand(record.copy(), schema, l2p)
      }
      override def commit(): WriterCommitMessage = MemCommit(buf.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

private[sources] final case class MemCommit(rows: Vector[InternalRow])
  extends WriterCommitMessage

/** The `.changes` METADATA TABLE (`cat.<table>.changes` — the Iceberg
  * metadata-table suffix convention carrying the Delta Change Data
  * Feed): schema = `(_change_type, _commit_version, <table columns>)`.
  * Batch reads serve the feed over the whole retained window through
  * plain SQL; streaming reads (`spark.readStream.table`) deliver the
  * feed with COMMIT-VERSION offsets — inserts, deletes, and
  * update pre/post images, not just inserts — so a CDC consumer
  * maintains exact derived state from the stream alone, checkpointed,
  * without ever re-scanning the source table. */
private[sources] final class ChangesTable(tableName: String,
    store: MemStore) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = MemStore.changeSchema(store.schema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangesScanBuilder(store, options)
}

/** Scan builder for the change feed: column pruning plus pushdown of
  * the translatable filters over the FEED schema — a consumer's
  * `_commit_version >= n` or `_change_type = 'delete'` predicate
  * evaluates inside the source. No aggregate pushdown (the stats
  * sidecars describe the table, not its feed). */
private[sources] final class ChangesScanBuilder(store: MemStore,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private val feedSchema = MemStore.changeSchema(store.schema)
  private var required: Option[StructType] = None
  private var pushedArr: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (ok, rest) = filters.partition(MemFilters.supported(feedSchema, _))
    pushedArr = ok
    rest
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushedArr
  override def build(): Scan =
    new ChangesScan(required.getOrElse(feedSchema), feedSchema, store,
      pushedArr.toSeq, options)
}

/** The feed scan. BATCH: the retained window's change rows,
  * materialized at planning (O(changes in window)) and sliced like
  * any heap segment. STREAMING: version offsets — each micro-batch is
  * exactly the change rows of the commits in its offset range. Both
  * reuse the segment reader, so pruning and pushed filters behave
  * identically. */
private[sources] final class ChangesScan(out: StructType,
    feedSchema: StructType, store: MemStore,
    pushed: Seq[org.apache.spark.sql.sources.Filter],
    streamOptions: CaseInsensitiveStringMap =
      CaseInsensitiveStringMap.empty())
    extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    MemScan.heapSlices(
      store.changeRows(store.oldestVersion, store.currentVersion))
  override def createReaderFactory(): PartitionReaderFactory =
    new SegReaderFactory(out, feedSchema, feedSchema, pushed,
      direct = false)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MemCdfMicroBatchStream(store, () => createReaderFactory(),
      streamOptions)
}

/** Micro-batch CDF stream: offsets are COMMIT VERSIONS. A fresh
  * stream's first batch is the consolidated base as pure inserts (the
  * initial-load convention); every later batch exactly the change
  * rows — including update pre/post images and deletes — of the
  * commits in (start, end]. A checkpointed offset below the retained
  * window fails loudly (resuming would re-deliver the consolidated
  * base as duplicates). */
private[sources] final class MemCdfMicroBatchStream(store: MemStore,
    readerFactory: () => PartitionReaderFactory,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with VersionAdmission {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override protected def admStore: MemStore = store
  override protected def admOptions: CaseInsensitiveStringMap = options
  /** CDF row grain: EVERY change row of version v (deletes, both
    * update images, inserts) — what the feed actually emits. */
  override protected def rowsAt(v: Int): Long =
    store.changeRows(v, v).length.toLong

  override def initialOffset(): Offset = MemOffset(store.oldestVersion - 1)
  override def latestOffset(): Offset = MemOffset(store.currentVersion)
  override def deserializeOffset(json: String): Offset =
    MemOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MemOffset].version
    val e = end.asInstanceOf[MemOffset].version
    if (e <= s) Array.empty
    else {
      require(s >= store.oldestVersion - 1,
        s"checkpointed offset $s predates the retained window " +
          s"[${store.oldestVersion}, ${store.currentVersion}] — " +
          "resuming would re-deliver the consolidated base; reset the " +
          "checkpoint or retain more history")
      MemScan.heapSlices(store.changeRows(s + 1, e))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory()
}

/** The `.history` and `.files` METADATA TABLES — `DESCRIBE HISTORY`
  * and the live file inventory through plain SQL (the Iceberg
  * `db.table.history` / `db.table.files` convention):
  *
  *  - `history(version, commit_micros, n_rows)`: one row per RETAINED
  *    version, straight off the incrementally-maintained store
  *    metadata — no snapshot is materialized;
  *  - `files(seg, file, n_rows, n_live, n_deleted, n_patched)`: one
  *    row per LIVE SEGMENT — its data file (NULL for heap segments),
  *    physical row count, and the row-level overlay sizes — the
  *    observability surface an operator sizes compaction from.
  *
  * Both are O(metadata): tiny heap frames, never a data-file read. */
private[sources] final class MetaTable(tableName: String, store: MemStore,
    kind: String) extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  override def name(): String = tableName
  override def schema(): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("commit_micros", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_live", LongType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case _ => StructType(Seq(
      StructField("seg", LongType, nullable = false),
      StructField("file", StringType, nullable = true),
      StructField("partition", StringType, nullable = true),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_live", LongType, nullable = false),
      StructField("n_deleted", LongType, nullable = false),
      StructField("n_patched", LongType, nullable = false)))
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new MetaScan(schema(), rows())

  private def rows(): Vector[InternalRow] = kind match {
    case "refs" =>
      store.refs.toVector.sortBy(_._1).map { case (n, v) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(n),
            v.toLong))
      }
    case "history" =>
      store.historyRows.iterator.map { case (v, t, n) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](v, t, n))
      }.toVector
    case "partitions" =>
      // SHOW PARTITIONS: live per-tuple census off the snapshot
      // metadata — no data file opened. Heap tails / tuple-less files
      // group under NULL (rows whose partition is only knowable by
      // reading them).
      val (snap, _) = store.currentState()
      snap.segs.groupBy(_.seg match {
        case f: FileSeg => f.partVals.map(pv =>
          Partitioning.renderVals(store.specOf(f.specId), pv))
        case _ => None
      }).toVector.sortBy(_._1.getOrElse("~")).iterator.map {
        case (part, group) =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](
              part.map(org.apache.spark.unsafe.types.UTF8String.fromString)
                .orNull,
              group.length.toLong,
              group.iterator.map(_.seg.count).sum,
              group.iterator.map(_.liveCount).sum))
      }.toVector
    case _ =>
      val (snap, _) = store.currentState()
      snap.segs.zipWithIndex.iterator.map { case (ls, i) =>
        val (file, part) = ls.seg match {
          case f: FileSeg =>
            (org.apache.spark.unsafe.types.UTF8String.fromString(
              java.nio.file.Paths.get(f.path).getFileName.toString),
              f.partVals.map(pv =>
                org.apache.spark.unsafe.types.UTF8String.fromString(
                  Partitioning.renderVals(store.specOf(f.specId), pv)))
                .orNull)
          case _ => (null, null)
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong, file, part, ls.seg.count, ls.liveCount,
            ls.dels.length.toLong, ls.patches.size.toLong))
      }.toVector
  }
}

/** Trivial scan over a tiny metadata frame. */
private[sources] final class MetaScan(out: StructType,
    rows: Vector[InternalRow]) extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(SegSlice(MemSeg(rows), 0L, rows.length.toLong, Vector.empty,
      Map.empty, 0L))
  override def createReaderFactory(): PartitionReaderFactory =
    new SegReaderFactory(out, out, out, Seq.empty, direct = false)
}
