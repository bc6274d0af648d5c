package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{DataType, StructType}

/** One replayed log entry: a data commit (append/replace rows) or a
  * schema-change commit (ALTER TABLE ADD COLUMN — a version whose
  * rows equal the previous version's). */
private[sources] sealed trait LogEntry {
  def version: Int
  def tsMicros: Long
}
private[sources] final case class DataCommit(version: Int, replace: Boolean,
    tsMicros: Long, rows: Vector[InternalRow],
    stats: Option[CommitStats] = None) extends LogEntry
/** A row-level (MERGE/UPDATE/DELETE) commit: O(delta) on disk —
  * positions index the previous version's snapshot ordering. Its
  * stats sidecar carries the RESULT snapshot's statistics (a delete
  * can't be folded forward from per-commit stats). */
private[sources] final case class DeltaCommit(version: Int, tsMicros: Long,
    deletes: Vector[Long], updates: Vector[(Long, InternalRow)],
    inserts: Vector[InternalRow],
    stats: Option[CommitStats] = None) extends LogEntry
private[sources] final case class SchemaCommit(version: Int,
    tsMicros: Long, schema: StructType) extends LogEntry
/** One data-file reference inside a commit: name, exact row count,
  * and the FILE's OWN column statistics (the Delta `add.stats` shape
  * at file grain — what lets a scan SKIP whole files against pushed
  * predicates without opening them). */
private[sources] final case class FileRef(name: String, count: Long,
    stats: Option[CommitStats] = None, partVals: Option[Vector[Any]] = None,
    specId: Int = 0)

/** A FILE-REFERENCE commit (the Delta `add` action shape): the commit
  * file holds only [[FileRef]]s — the data itself lives in immutable
  * parquet files under `data/`. This is the form every bulk write of
  * a durable table takes; the commit file is O(files), never O(rows).
  * `mode`: Append / Replace / Rewrite — Rewrite (OPTIMIZE) replaces
  * the snapshot with CONTENT-IDENTICAL files and is `dataChange =
  * false`: the change feed and streaming sources skip it. */
/** A PARTITION-OVERWRITE commit: named data files leave the
  * snapshot, fresh ones join — one atomic version (kind 6). */
private[sources] final case class DropAddCommit(version: Int,
    tsMicros: Long, removeNames: Vector[String], add: Vector[FileRef],
    stats: Option[CommitStats] = None,
    removeTuples: Vector[Vector[Any]] = Vector.empty,
    removeSpecId: Int = 0,
    /** incremental-OPTIMIZE landing: content-identical bin-pack (see
      * [[graft.sources.VDropAdd.compaction]]) */
    compaction: Boolean = false) extends LogEntry

/** A PARTITION-SPEC-EVOLUTION commit (kind 7, the Iceberg
  * `ALTER TABLE ... SET PARTITIONED BY` model): records the NEW write
  * spec and its id; rows are identical to the previous version. Old
  * data files keep their tuples under their own spec ids. */
private[sources] final case class SpecCommit(version: Int,
    tsMicros: Long, specId: Int,
    spec: Seq[PartTransform]) extends LogEntry

private[sources] final case class FileCommit(version: Int, mode: Int,
    tsMicros: Long, files: Vector[FileRef],
    stats: Option[CommitStats] = None,
    txn: Option[(String, Long)] = None) extends LogEntry {
  def replace: Boolean = mode != FileCommit.Append
}

private[sources] object FileCommit {
  val Append = 0
  val Replace = 1
  val Rewrite = 2
}

/** One serialized store state — what a CHECKPOINT file holds: the
  * oldest retained version and one [[Retained]] record (delta, commit
  * time, count, folded stats, schema) per retained version from there,
  * so a cold load reads checkpoint + commit suffix instead of replaying
  * every retained commit (the Delta `_checkpoint` analog). */
private[sources] final case class Checkpoint(base: Int,
    versions: Vector[Retained]) {
  def version: Int = base + versions.length - 1
}

/** Durable snapshot log for [[MemCatalog]] tables — the Delta/Iceberg
  * commit-log shape in miniature: a per-table directory holding
  * `_schema.json` (the LATEST schema — rewritten atomically on
  * ALTER, so replay always decodes with the current column set) plus
  * one IMMUTABLE numbered commit file per append/replace/ALTER, each
  * written to a temp sibling and moved into place atomically (the
  * [[graft.operators.IndexStore]] single-writer discipline), so a
  * reader never observes a half-written commit and a process restart
  * replays the exact version history — `VERSION AS OF n` and MERGE
  * survive the JVM.
  *
  * Rows are encoded as [[UnsafeRow]] bytes (schema-agnostic, the same
  * format Tungsten shuffles), length-prefixed inside each commit
  * file, with the commit's FIELD COUNT in the header — schema
  * evolution is append-only (AddColumn), so any historical commit's
  * columns are a prefix of the latest schema and decode under it.
  * Commit files are append-only and never rewritten — version n is
  * reconstructed by folding commits 1..n over the empty version 0,
  * exactly how a lakehouse log replays snapshots (retention prunes
  * the prefix via [[expireBefore]]).
  */
private[sources] final class CommitLog(dir: Path, initial: StructType,
    initialSpecs: Vector[Seq[PartTransform]],
    val tupleV2: Boolean) {

  // the latest schema this log knows (updated by recordSchema; replay
  // decoders take per-commit column prefixes of it)
  @volatile private var cur: StructType = initial
  def schema: StructType = cur

  // ---- PARTITION-SPEC REGISTRY (spec evolution) ---------------------
  // Every published spec, id = index; the LAST one is the write spec.
  // v2 tables persist the whole registry in `_partition` (rewritten on
  // evolution) and every data-file tuple self-describes its spec id,
  // so decode never depends on the registry and replay self-heals a
  // crash window between marker publication and the registry rewrite.
  @volatile private var specsV: Vector[Seq[PartTransform]] = initialSpecs
  def specs: Vector[Seq[PartTransform]] = specsV
  def partSpec: Seq[PartTransform] = specsV.last
  def currentSpecId: Int = specsV.length - 1
  def specOf(id: Int): Seq[PartTransform] =
    if (id >= 0 && id < specsV.length) specsV(id) else Nil

  /** Replay-time registry alignment (idempotent): a kind-7 commit seen
    * during replay appends its spec when the registry (crash window)
    * missed it. */
  private[sources] def ensureSpec(id: Int, spec: Seq[PartTransform]): Unit =
    if (specsV.length <= id) {
      require(specsV.length == id,
        s"spec id gap: registry has ${specsV.length}, commit says $id")
      specsV = specsV :+ spec
      CommitLog.writePartitionFile(dir, specsV)
    }

  /** Tuple block codec: v2 = self-describing [specId, width, values]
    * with the presence boolean ALWAYS written (evolution can turn an
    * unpartitioned table partitioned); v1 = the pre-evolution layout
    * (presence boolean only when the table has a spec, width from the
    * single spec). */
  private def writeTuple(out: DataOutputStream, pv: Option[Vector[Any]],
      specId: Int): Unit =
    if (tupleV2) {
      out.writeBoolean(pv.isDefined)
      pv.foreach(Partitioning.writeTagged(out, specId, _))
    } else if (partSpec.nonEmpty) {
      out.writeBoolean(pv.isDefined)
      pv.foreach(Partitioning.write(out, _))
    }

  private def readTuple(in: DataInputStream): (Option[Vector[Any]], Int) =
    if (tupleV2) {
      if (in.readBoolean()) {
        val (sid, vals) = Partitioning.readTagged(in)
        (Some(vals), sid)
      } else (None, 0)
    } else if (partSpec.nonEmpty) {
      if (in.readBoolean()) (Some(Partitioning.read(in, partSpec.length)), 0)
      else (None, 0)
    } else (None, 0)

  private def commitFile(version: Int): Path =
    dir.resolve(f"$version%08d.commit")

  /** Commit/stats file paths for SHALLOW CLONE / FAST FORWARD —
    * commit files are immutable once published, so cross-table hard
    * links are safe ([[TableClone]]). */
  private[sources] def commitFilePath(version: Int): Path =
    commitFile(version)
  private[sources] def statsFilePath(version: Int): Path =
    statsFile(version)

  /** Data-file directory (the table's parquet files). Write tasks
    * stream rows here under fresh UUID names; a file becomes LIVE only
    * when a commit file referencing it lands atomically — a crashed
    * write leaves an orphan, never a half-visible table (the
    * Iceberg/Delta optimistic-file discipline). */
  private[sources] def dataDir: Path = dir.resolve("data")

  /** The table's log directory (sidecar files live here). */
  private[sources] def rootDir: Path = dir

  private[sources] def dataFilePath(name: String): String =
    dataDir.resolve(name).toString

  /** The live segment of one committed data file of this table. */
  private[sources] def fileSeg(f: FileRef): FileSeg =
    FileSeg(dataFilePath(f.name), f.count, f.stats, f.partVals, f.specId)

  private[sources] def newDataFileName(tag: String): String =
    CommitLog.newDataFileName(tag)

  private def statsFile(version: Int): Path =
    dir.resolve(f"$version%08d.stats")

  /** Serialize and PUBLISH one commit file. Publication is the
    * multi-writer linearization point: the default path creates the
    * numbered file with CREATE-NEW semantics (a hard link from a
    * writer-unique temp — the one filesystem primitive that FAILS
    * atomically when the name exists), so when two writers race for
    * the same version exactly one wins and the loser gets
    * [[CommitLog.VersionConflictException]] to refresh-and-retry on —
    * the Delta/Iceberg optimistic-concurrency shape. Snapshot expiry
    * alone passes `replaceExisting = true`: it consolidates ONTO an
    * existing version number by design. */
  private def writeCommit(version: Int, replaceExisting: Boolean = false)(
      body: DataOutputStream => Unit): Unit = {
    // writer-unique temp: two racing writers must never share one
    val tmp = dir.resolve(f"$version%08d.commit.inprogress." +
      java.util.UUID.randomUUID().toString.take(8))
    val out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING)))
    try body(out) finally out.close()
    if (replaceExisting)
      Files.move(tmp, commitFile(version), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    else {
      try Files.createLink(commitFile(version), tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          throw new CommitLog.VersionConflictException(version)
      }
      Files.deleteIfExists(tmp)
    }
  }

  /** Pad a (possibly historical prefix-arity) row to the latest
    * schema, appended columns NULL — the same padding reads apply, so
    * consolidating a version whose vector MIXES pre- and
    * post-ADD-COLUMN arities serializes every row at ONE arity
    * without dropping post-evolution values (an expiry/restore over a
    * mixed vector used to project everything at rows.head's arity). */
  private def padded(r: InternalRow): InternalRow =
    if (r.numFields == cur.length) r
    else {
      require(r.numFields < cur.length,
        s"commit arity ${r.numFields} exceeds schema ${cur.length}")
      val vals = new Array[Any](cur.length)
      var j = 0
      while (j < r.numFields) { vals(j) = r.get(j, cur(j).dataType); j += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    }

  /** Persist one data commit (version >= 1) stamped with its commit
    * time (epoch micros — the `TIMESTAMP AS OF` resolution source).
    * Callers serialize commits (MemStore's synchronized
    * append/replace), matching the single-writer assumption of the
    * atomic move. Rows may carry historical (prefix) arities — every
    * row is padded to the LATEST schema before serializing, so a
    * consolidation over mixed-arity history round-trips exactly. */
  def record(version: Int, replace: Boolean, tsMicros: Long,
      rows: Seq[InternalRow]): Unit = {
    val n = cur.length
    val proj = UnsafeProjection.create(cur)
    writeCommit(version) { out =>
      out.writeByte(if (replace) 1 else 0)
      out.writeLong(tsMicros)
      out.writeInt(n)
      out.writeInt(rows.length)
      rows.foreach { r =>
        val bytes = proj(padded(r)).getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    }
    // Stats SIDECAR (the Delta `add.stats` analog): written AFTER the
    // commit's atomic move, so a crash between the two leaves a valid
    // commit whose aggregates simply fall back to a scan. Computed over
    // the latest schema — columns beyond a row's arity count as NULL,
    // matching read-time padding.
    writeStats(version, CommitStats.of(rows, cur))
  }

  private def writeStats(version: Int, st: CommitStats): Unit = {
    val tmp = dir.resolve(f"$version%08d.stats.inprogress")
    val sout = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING)))
    try CommitStats.write(sout, cur, st) finally sout.close()
    Files.move(tmp, statsFile(version), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Persist one row-level DELTA commit — O(delta) bytes: only the
    * deleted positions, the updated (position, row) pairs, and the
    * inserted rows land on disk, never the surviving row set. The
    * sidecar carries `resultStats` — exact statistics of the RESULT
    * snapshot (the self-healed fold [[graft.sources.CommitStats.applyDelta]]
    * computes), since a deletion cannot be folded forward from
    * per-commit stats the way appends can. */
  def recordDelta(version: Int, tsMicros: Long, d: graft.sources.VRowDelta,
      resultStats: CommitStats): Unit = {
    val n = cur.length
    val proj = UnsafeProjection.create(cur)
    writeCommit(version) { out =>
      out.writeByte(3)
      out.writeLong(tsMicros)
      out.writeInt(n)
      out.writeInt(d.deletes.length)
      d.deletes.foreach(out.writeLong)
      out.writeInt(d.updates.length)
      d.updates.foreach { case (pos, r) =>
        out.writeLong(pos)
        val bytes = proj(padded(r)).getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
      }
      out.writeInt(d.inserts.length)
      d.inserts.foreach { r =>
        val bytes = proj(padded(r)).getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    }
    writeStats(version, resultStats)
  }

  /** Persist one FILE-REFERENCE commit — the durable data plane's
    * bulk-write form: the commit file carries only the referenced
    * data-file names and their row counts (O(files) bytes), the rows
    * themselves already sit in immutable parquet files the write
    * tasks streamed directly. Caller passes the commit's exact stats
    * (the write tasks folded them row-by-row while streaming). */
  def recordFiles(version: Int, mode: Int, tsMicros: Long,
      files: Seq[FileRef], stats: CommitStats,
      replaceExisting: Boolean = false,
      txn: Option[(String, Long)] = None): Unit = {
    writeCommit(version, replaceExisting) { out =>
      out.writeByte(4)
      out.writeLong(tsMicros)
      out.writeByte(mode)
      out.writeInt(files.length)
      files.foreach { f =>
        out.writeUTF(f.name)
        out.writeLong(f.count)
        out.writeBoolean(f.stats.isDefined)
        f.stats.foreach(CommitStats.write(out, cur, _))
        writeTuple(out, f.partVals, f.specId)
      }
      // STREAMING TRANSACTION marker (the Delta SetTransaction shape):
      // an optional (queryId, epochId) tail — absent, the file simply
      // ends, so batch commits keep the pre-streaming byte layout
      txn.foreach { case (q, e) =>
        out.writeByte(1)
        out.writeUTF(q)
        out.writeLong(e)
      }
    }
    writeStats(version, stats)
  }

  /** Persist one PARTITION-OVERWRITE commit (kind 6): the dropped
    * file names plus the added file references — O(files) bytes,
    * same publication/conflict semantics as every commit. */
  def recordDropAdd(version: Int, tsMicros: Long,
      removeNames: Seq[String], add: Seq[FileRef],
      stats: CommitStats,
      removeTuples: Seq[Vector[Any]] = Nil,
      removeSpecId: Int = 0,
      compaction: Boolean = false): Unit = {
    writeCommit(version) { out =>
      out.writeByte(6)
      out.writeLong(tsMicros)
      out.writeInt(removeNames.length)
      removeNames.foreach(out.writeUTF)
      out.writeInt(add.length)
      add.foreach { f =>
        out.writeUTF(f.name)
        out.writeLong(f.count)
        out.writeBoolean(f.stats.isDefined)
        f.stats.foreach(CommitStats.write(out, cur, _))
        writeTuple(out, f.partVals, f.specId)
      }
      // OPTIONAL TAIL (EOF-probed on read — round-14 commits lack it):
      // the overwritten partition tuples, the rename-proof removal
      // form expiry consolidation replays against (v2: tagged with
      // the spec id the overwrite ran under)
      if (removeTuples.nonEmpty) {
        out.writeByte(1)
        out.writeInt(removeTuples.length)
        if (tupleV2)
          removeTuples.foreach(Partitioning.writeTagged(out, removeSpecId, _))
        else removeTuples.foreach(Partitioning.write(out, _))
      }
      // second optional tail (EOF-probed): compaction marker — an
      // incremental-OPTIMIZE bin-pack, dataChange = false
      if (compaction) out.writeByte(2)
    }
    writeStats(version, stats)
  }

  /** Persist a PARTITION-SPEC-EVOLUTION commit (kind 7): the new
    * write spec with its id. Marker publishes first; the durable
    * registry (`_partition`) rewrites after — decode never depends on
    * it (tuples self-describe), and replay self-heals the crash
    * window via [[ensureSpec]]. */
  def recordSpecChange(version: Int, tsMicros: Long,
      spec: Seq[PartTransform]): Unit = {
    require(tupleV2,
      "partition-spec evolution needs the v2 table format (tables " +
        "created before spec evolution shipped must be recreated)")
    val id = specsV.length
    val bytes = Partitioning.renderSpec(spec)
      .getBytes(StandardCharsets.UTF_8)
    writeCommit(version) { out =>
      out.writeByte(7)
      out.writeLong(tsMicros)
      out.writeInt(id)
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    specsV = specsV :+ spec
    CommitLog.writePartitionFile(dir, specsV)
  }

  /** Persist a schema-change commit (ALTER TABLE ADD COLUMN): the
    * latest schema lands in `_schema.json` FIRST (atomic rewrite —
    * decode correctness must not depend on the marker commit), then
    * the versioned marker records when the change happened. If the
    * marker LOSES its version to a concurrent writer
    * ([[CommitLog.VersionConflictException]]), the durable schema and
    * `cur` ROLL BACK before the exception propagates — otherwise an
    * ALTER the conflict check then aborts would leave the new schema
    * on disk and a restart would replay the aborted change. */
  def recordSchema(version: Int, tsMicros: Long,
      newSchema: StructType): Unit = {
    require(ColumnMapping.compatible(cur, newSchema),
      "schema evolution must be append-only or metadata-only " +
        "(shared slots keep datatype and field id)")
    val prev = cur
    CommitLog.writeSchemaFile(dir, newSchema)
    cur = newSchema
    val json = newSchema.json.getBytes(StandardCharsets.UTF_8)
    try {
      writeCommit(version) { out =>
        out.writeByte(2)
        out.writeLong(tsMicros)
        out.writeInt(json.length)
        out.write(json)
      }
    } catch {
      case e: CommitLog.VersionConflictException =>
        // restore only if the file still holds OUR write — a
        // concurrent ALTER that won the version may have already
        // published its own schema there
        if (Files.readString(CommitLog.schemaFile(dir)) == newSchema.json)
          CommitLog.writeSchemaFile(dir, prev)
        cur = prev
        throw e
    }
  }

  /** Table creation time (epoch micros) — version 0's timestamp. */
  def createdMicros: Long =
    Files.readString(dir.resolve("_created")).trim.toLong

  /** Snapshot EXPIRY (the Iceberg `expire_snapshots` / Delta
    * retention lever): consolidate version `before` into a
    * self-contained REPLACE commit (folding a replace needs no
    * predecessor), then delete every earlier commit file. Ordering is
    * crash-safe: the consolidated file lands first (replacing the old
    * file atomically — replaying it yields the identical state, so a
    * crash mid-expiry only leaves extra, still-valid prefix files).
    * A pruned schema-change marker is harmless: decode arity rides in
    * every data commit and `_schema.json` already holds the latest. */
  def expireBefore(version: Int, tsMicros: Long,
      consolidated: Seq[FileRef], stats: CommitStats,
      referenced: Set[String], prunedNamed: Set[String] = Set.empty): Unit = {
    // checkpoints written before the expiry capture pruned versions
    // (and reference files the vacuum is about to delete): they go
    // FIRST, so no crash window can leave a cold load resurrecting
    // expired history — worst case is a full (commit-file) replay
    deleteCheckpoints()
    recordFiles(version, FileCommit.Replace, tsMicros, consolidated, stats,
      replaceExisting = true)
    val stream = Files.list(dir)
    val stale = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val files = stream.iterator()
      while (files.hasNext) {
        val p = files.next()
        val n = p.getFileName.toString
        if (n.matches("\\d{8}\\.(commit|stats)") && n.take(8).toInt < version)
          stale += p
      }
    } finally stream.close()
    stale.foreach(Files.delete)
    // PHYSICAL deletion of data files no retained commit references —
    // the vacuum half of retention; without it expiry bounds the log
    // but storage grows forever. Runs AFTER the consolidated commit
    // landed, so a crash mid-sweep only leaves still-orphaned files
    // (cleaned by the next expiry), never a dangling reference.
    // Deletion is RESTRICTED to (a) files the pruned commits named —
    // log-owned, provably superseded by the consolidated base — and
    // (b) unnamed strays older than a retention grace window: a bulk
    // write in flight streams part files from tasks BEFORE its commit
    // lands, and deleting "everything unreferenced" would tear it
    // down mid-write (the VACUUM-retention lesson of the real
    // formats). Fresh strays survive until they either commit
    // (become referenced) or age past the grace horizon.
    if (Files.isDirectory(dataDir)) {
      val graceMs = CommitLog.vacuumGraceMs
      val horizon = System.currentTimeMillis() - graceMs
      val ds = Files.list(dataDir)
      val orphans = scala.collection.mutable.ArrayBuffer.empty[Path]
      try {
        val it = ds.iterator()
        while (it.hasNext) {
          val p = it.next()
          val nm = p.getFileName.toString
          if (!referenced.contains(nm) &&
              (prunedNamed.contains(nm) ||
                Files.getLastModifiedTime(p).toMillis < horizon))
            orphans += p
        }
      } finally ds.close()
      orphans.foreach(Files.delete)
    }
  }

  /** Replay every retained commit in version order. After an expiry
    * the first retained commit is a self-contained replace with
    * version > 1. `.inprogress` leftovers from a crashed writer are
    * ignored — only atomically-moved commits are history. */
  // ---- checkpoints (the Delta `_checkpoint` analog) -------------------

  private def checkpointFile(version: Int): Path =
    dir.resolve(f"$version%08d.checkpoint")

  /** Drop every checkpoint — expiry calls this FIRST (a pre-expiry
    * checkpoint captures pruned versions and references data files
    * the vacuum deletes; losing all checkpoints merely costs one full
    * commit replay). */
  private[sources] def deleteCheckpoints(): Unit = {
    val stream = Files.list(dir)
    val stale = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.contains(".checkpoint")) stale += p
      }
    } finally stream.close()
    stale.foreach(Files.deleteIfExists(_))
  }

  /** Persist the whole retained-window state at `c.version` — entries
    * (file references / O(delta) rows), commit times, counts, and the
    * FOLDED stats — so a cold load costs checkpoint + suffix instead
    * of every retained commit. Atomic like every commit write. */
  def writeCheckpoint(c: Checkpoint): Unit = {
    val n = cur.length
    val proj = UnsafeProjection.create(cur)
    val tmp = dir.resolve(f"${c.version}%08d.checkpoint.inprogress")
    val out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING)))
    def writeRow(r: InternalRow): Unit = {
      val bytes = proj(padded(r)).getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    def writeSegs(segs: Vector[RowSeg]): Unit = {
      out.writeInt(segs.length)
      segs.foreach {
        case MemSeg(rows) =>
          out.writeByte(0)
          out.writeInt(rows.length)
          rows.foreach(writeRow)
        case FileSeg(path, count, fstats, pv, sid) =>
          out.writeByte(1)
          out.writeUTF(java.nio.file.Paths.get(path).getFileName.toString)
          out.writeLong(count)
          out.writeBoolean(fstats.isDefined)
          fstats.foreach(CommitStats.write(out, cur, _))
          // checkpoint tuples are ALWAYS self-describing (the file is
          // written and read by the same code; a stale-format
          // checkpoint falls back to full replay by design)
          out.writeBoolean(pv.isDefined)
          pv.foreach(Partitioning.writeTagged(out, sid, _))
      }
    }
    try {
      // FORMAT HEADER: magic + version. A checkpoint written by an
      // older layout (or by a future one) is rejected DETERMINISTICALLY
      // at read time and the load falls back to full commit replay —
      // never a probabilistic misaligned binary read (pre-header files
      // start with `base`, a small non-negative int that can never
      // equal the magic).
      out.writeInt(CommitLog.CkptMagic)
      out.writeInt(CommitLog.CkptVersion)
      out.writeInt(c.base)
      out.writeInt(n) // row decode arity (schema may grow later)
      out.writeInt(c.versions.length)
      c.versions.foreach { r =>
        out.writeLong(r.tsMicros)
        out.writeLong(r.count)
        out.writeBoolean(r.stats.isDefined)
        // under the version's own schema: a renamed column keeps its
        // entry (written by field id)
        r.stats.foreach(CommitStats.write(out, r.schema, _))
        r.delta match {
          case VBase(segs) => out.writeByte(0); writeSegs(segs)
          case VAppend(segs) => out.writeByte(1); writeSegs(segs)
          case VRewrite(segs) => out.writeByte(4); writeSegs(segs)
          case VDropAdd(remove, add, tuples, rsid, compaction) =>
            out.writeByte(5)
            out.writeInt(remove.length)
            remove.foreach(out.writeUTF)
            writeSegs(add)
            out.writeInt(tuples.length)
            tuples.foreach(Partitioning.writeTagged(out, rsid, _))
            out.writeBoolean(compaction)
          case VSpecChange(id, spec) =>
            out.writeByte(6)
            out.writeInt(id)
            val sj = Partitioning.renderSpec(spec)
              .getBytes(StandardCharsets.UTF_8)
            out.writeInt(sj.length)
            out.write(sj)
          case VRowDelta(dels, upds, ins) =>
            out.writeByte(2)
            out.writeInt(dels.length)
            dels.foreach(out.writeLong)
            out.writeInt(upds.length)
            upds.foreach { case (pos, r) => out.writeLong(pos); writeRow(r) }
            out.writeInt(ins.length)
            ins.foreach(writeRow)
          case VMarker => out.writeByte(3)
        }
      }
      // per-version physical schemas (rename/drop history) — readers
      // of the pre-mapping layout fail the read harmlessly (checkpoint
      // load falls back to a full commit replay)
      out.writeInt(c.versions.length)
      c.versions.foreach { r =>
        val js = r.schema.json.getBytes(StandardCharsets.UTF_8)
        out.writeInt(js.length)
        out.write(js)
      }
    } finally out.close()
    Files.move(tmp, checkpointFile(c.version), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // GC superseded checkpoints AFTER the new one landed atomically —
    // keep the newest two (the new one plus its predecessor, for crash
    // safety), so a long-lived table holds O(1) checkpoint files
    // instead of one per cadence, each a full retained-window copy
    val stream = Files.list(dir)
    val old = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val nm = p.getFileName.toString
        if (nm.matches("\\d{8}\\.checkpoint") && nm.take(8).toInt < c.version)
          old += p
      }
    } finally stream.close()
    old.sortBy(_.getFileName.toString).dropRight(1)
      .foreach(Files.deleteIfExists(_))
  }

  /** The newest readable checkpoint, or None (no checkpoint, or a
    * corrupt one — the loader falls back to full commit replay, never
    * fails the open). */
  def readLatestCheckpoint(): Option[Checkpoint] = {
    val stream = Files.list(dir)
    val cands = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.matches("\\d{8}\\.checkpoint")) cands += p
      }
    } finally stream.close()
    cands.sortBy(_.getFileName.toString).lastOption.flatMap { p =>
      try {
        val in = new DataInputStream(new BufferedInputStream(
          Files.newInputStream(p)))
        try {
          if (in.readInt() != CommitLog.CkptMagic ||
              in.readInt() != CommitLog.CkptVersion)
            throw new java.io.IOException("stale checkpoint format")
          val base = in.readInt()
          val arity = in.readInt()
          val nEntries = in.readInt()
          def readRow(): InternalRow = {
            val len = in.readInt()
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            val row = new UnsafeRow(arity)
            row.pointTo(bytes, len)
            row
          }
          def readSegs(): Vector[RowSeg] = Vector.fill(in.readInt()) {
            in.readByte() match {
              case 0 => MemSeg(Vector.fill(in.readInt())(readRow()))
              case 1 =>
                val name = in.readUTF()
                val count = in.readLong()
                val fstats = if (in.readBoolean())
                  Some(CommitStats.read(in, cur)) else None
                val (pv, sid) =
                  if (in.readBoolean()) {
                    val (s0, v0) = Partitioning.readTagged(in)
                    (Some(v0), s0)
                  } else (None, 0)
                FileSeg(dataFilePath(name), count, fstats, pv, sid)
            }
          }
          val heads = Vector.fill(nEntries) {
            val t = in.readLong()
            val count = in.readLong()
            val stats = if (in.readBoolean()) Some(CommitStats.read(in, cur))
              else None
            val delta = in.readByte() match {
              case 0 => VBase(readSegs())
              case 1 => VAppend(readSegs())
              case 5 =>
                val names = Vector.fill(in.readInt())(in.readUTF())
                val segs = readSegs()
                var rsid = 0
                val tuples = Vector.fill(in.readInt()) {
                  val (s0, v0) = Partitioning.readTagged(in)
                  rsid = s0
                  v0
                }
                VDropAdd(names, segs, tuples, rsid, in.readBoolean())
              case 6 =>
                val id = in.readInt()
                val sj = new Array[Byte](in.readInt())
                in.readFully(sj)
                VSpecChange(id, Partitioning.parseSpec(
                  new String(sj, StandardCharsets.UTF_8)))
              case 2 =>
                val dels = Vector.fill(in.readInt())(in.readLong())
                val upds = Vector.fill(in.readInt()) {
                  val pos = in.readLong()
                  (pos, readRow())
                }
                VRowDelta(dels, upds, Vector.fill(in.readInt())(readRow()))
              case 3 => VMarker
              case 4 => VRewrite(readSegs())
            }
            (delta, t, count, stats)
          }
          // exactly one schema per version; any other count is a
          // corrupt checkpoint (the load falls back to full replay)
          if (in.readInt() != nEntries)
            throw new java.io.IOException("checkpoint schema count mismatch")
          val versions = heads.map { case (delta, t, count, stats) =>
            val js = new Array[Byte](in.readInt())
            in.readFully(js)
            val schema = DataType.fromJson(
              new String(js, StandardCharsets.UTF_8)).asInstanceOf[StructType]
            // stats decoded under the latest names go back to the
            // version's own
            Retained(delta, t, count,
              stats.map(CommitStats.rekey(_, cur, schema)), schema)
          }
          Some(Checkpoint(base, versions))
        } finally in.close()
      } catch { case _: Exception => None }
    }
  }

  def replay(): Seq[LogEntry] = replayAfter(-1)

  /** Replay only commits with version > `afterVersion` — the suffix a
    * checkpoint load still needs. */
  def replayAfter(afterVersion: Int): Seq[LogEntry] = {
    val stream = Files.list(dir)
    val commits = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val files = stream.iterator()
      while (files.hasNext) {
        val p = files.next()
        val nm = p.getFileName.toString
        if (nm.matches("\\d{8}\\.commit") && nm.take(8).toInt > afterVersion)
          commits += p
      }
    } finally stream.close()
    commits.sortBy(_.getFileName.toString).toSeq.map { p =>
      val ver = p.getFileName.toString.take(8).toInt
      val in = new DataInputStream(new BufferedInputStream(
        Files.newInputStream(p)))
      try {
        val kind = in.readByte()
        val ts = in.readLong()
        // stats ride in the sidecar; a missing/unreadable sidecar
        // (crash window, hand-pruned file) degrades to scan-backed
        // aggregation for every snapshot from this commit on
        def stats: Option[CommitStats] = {
          val sf = statsFile(ver)
          if (!Files.exists(sf)) None
          else {
            val sin = new DataInputStream(new BufferedInputStream(
              Files.newInputStream(sf)))
            try Some(CommitStats.read(sin, cur))
            catch { case _: Exception => None }
            finally sin.close()
          }
        }
        if (kind == 2) {
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          val s = DataType.fromJson(new String(bytes, StandardCharsets.UTF_8))
            .asInstanceOf[StructType]
          SchemaCommit(ver, ts, s)
        } else if (kind == 7) {
          val id = in.readInt()
          val bytes = new Array[Byte](in.readInt())
          in.readFully(bytes)
          val spec = Partitioning.parseSpec(
            new String(bytes, StandardCharsets.UTF_8))
          SpecCommit(ver, ts, id, spec)
        } else if (kind == 6) {
          val removeNames = Vector.fill(in.readInt())(in.readUTF())
          val add = Vector.fill(in.readInt()) {
            val name = in.readUTF()
            val count = in.readLong()
            val fstats = if (in.readBoolean())
              Some(CommitStats.read(in, cur)) else None
            val (pv, sid) = readTuple(in)
            FileRef(name, count, fstats, pv, sid)
          }
          // optional tails (EOF probe — older commits end early):
          // 1 = overwritten partition tuples; 2 = compaction marker
          var removeSpecId = 0
          var removeTuples = Vector.empty[Vector[Any]]
          var compaction = false
          var tail = in.read()
          if (tail == 1) {
            removeTuples = Vector.fill(in.readInt()) {
              if (tupleV2) {
                val (sid, vals) = Partitioning.readTagged(in)
                removeSpecId = sid
                vals
              } else Partitioning.read(in, partSpec.length)
            }
            tail = in.read()
          }
          if (tail == 2) compaction = true
          DropAddCommit(ver, ts, removeNames, add, stats, removeTuples,
            removeSpecId, compaction)
        } else if (kind == 4) {
          // file-reference commit: names + counts + per-file stats —
          // replay never touches a data file, so a restart is
          // O(commits) metadata
          val mode = in.readByte().toInt
          val files = Vector.fill(in.readInt()) {
            val name = in.readUTF()
            val count = in.readLong()
            val fstats = if (in.readBoolean())
              Some(CommitStats.read(in, cur)) else None
            val (pv, sid) = readTuple(in)
            FileRef(name, count, fstats, pv, sid)
          }
          val txn = if (in.read() == 1)
            Some((in.readUTF(), in.readLong())) else None
          FileCommit(ver, mode, ts, files, stats, txn)
        } else {
          val fields = in.readInt()
          def readRow(): InternalRow = {
            val len = in.readInt()
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            val row = new UnsafeRow(fields)
            row.pointTo(bytes, len)
            row
          }
          def readRows(n: Int): Vector[InternalRow] =
            Vector.fill(n)(readRow())
          if (kind == 3) {
            val deletes = Vector.fill(in.readInt())(in.readLong())
            val updates = Vector.fill(in.readInt()) {
              val pos = in.readLong()
              (pos, readRow())
            }
            val inserts = readRows(in.readInt())
            DeltaCommit(ver, ts, deletes, updates, inserts, stats)
          } else {
            DataCommit(ver, kind == 1, ts, readRows(in.readInt()), stats)
          }
        }
      } finally in.close()
    }
  }
}

private[sources] object CommitLog {

  /** Checkpoint file format header: magic + layout version. Bump
    * [[CkptVersion]] on ANY layout change — stale checkpoints are then
    * rejected deterministically (cold load falls back to full commit
    * replay, the documented posture). */
  private[sources] val CkptMagic: Int = 0x47434B50 // "GCKP"
  private[sources] val CkptVersion: Int = 2

  /** Another writer already published this version — refresh from the
    * log, re-check conflicts, retry (the optimistic-concurrency
    * signal, never user-visible). */
  private[sources] final class VersionConflictException(version: Int)
    extends Exception(s"commit version $version already published")


  private def schemaFile(dir: Path): Path = dir.resolve("_schema.json")

  private[sources] def writeSchemaFile(dir: Path, schema: StructType): Unit = {
    val tmp = dir.resolve("_schema.json.inprogress")
    Files.writeString(tmp, schema.json)
    Files.move(tmp, schemaFile(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def existsAt(dir: Path): Boolean = Files.exists(schemaFile(dir))

  /** A fresh data-file name: `<tag>-<12 uuid chars>.parquet`. */
  private[sources] def newDataFileName(tag: String): String =
    s"$tag-${java.util.UUID.randomUUID().toString.take(12)}.parquet"

  /** Vacuum retention grace for data files NOT named by any commit
    * (in-flight writer strays): default 24 h, override for tests via
    * `-Dgraft.vacuum.grace.ms=0`. Files named by pruned commits are
    * log-owned and deleted immediately regardless. */
  private[sources] def vacuumGraceMs: Long =
    sys.props.get("graft.vacuum.grace.ms").map(_.toLong)
      .getOrElse(24L * 3600 * 1000)

  /** Atomic rewrite of the v2 partition-spec registry. */
  private[sources] def writePartitionFile(dir: Path,
      specs: Vector[Seq[PartTransform]]): Unit = {
    val tmp = dir.resolve("_partition.inprogress")
    Files.writeString(tmp, Partitioning.renderSpecsV2(specs))
    Files.move(tmp, dir.resolve("_partition"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Initialize a fresh log directory (schema written last, via temp +
    * atomic move, so `existsAt` implies a complete creation). New
    * tables are always the v2 tuple format: the `_partition` registry
    * exists even for unpartitioned tables (spec 0 = empty), so spec
    * evolution — including unpartitioned -> partitioned — is open to
    * every table created from here on. */
  def create(dir: Path, schema: StructType, createdMicros: Long,
      partSpec: Seq[PartTransform] = Nil): CommitLog = {
    Files.createDirectories(dir.resolve("data"))
    Files.writeString(dir.resolve("_created"), createdMicros.toString)
    writePartitionFile(dir, Vector(partSpec))
    writeSchemaFile(dir, schema)
    new CommitLog(dir, schema, Vector(partSpec), tupleV2 = true)
  }

  /** Open an existing log for replay after a restart — `_schema.json`
    * always holds the LATEST schema; `_partition` the spec registry
    * (v2) or the single immutable spec (v1 tables, pre-evolution
    * layout). */
  def open(dir: Path): CommitLog = {
    val schema = DataType.fromJson(Files.readString(schemaFile(dir)))
      .asInstanceOf[StructType]
    Files.createDirectories(dir.resolve("data"))
    val pf = dir.resolve("_partition")
    if (!Files.exists(pf))
      new CommitLog(dir, schema, Vector(Nil), tupleV2 = false)
    else {
      val txt = Files.readString(pf)
      if (Partitioning.isV2(txt))
        new CommitLog(dir, schema, Partitioning.parseSpecsV2(txt),
          tupleV2 = true)
      else new CommitLog(dir, schema, Vector(Partitioning.parseSpec(txt)),
        tupleV2 = false)
    }
  }

  def destroy(dir: Path): Unit =
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}
