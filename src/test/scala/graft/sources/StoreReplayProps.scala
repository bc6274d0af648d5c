package graft.sources

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Live = replay. A durable store is driven through a random sequence
  * of every landing kind: file append, replace, row delta, ADD and
  * RENAME COLUMN, SET PARTITIONED BY, partition overwrite, compaction
  * and expiry. After every step the log is cold-loaded twice, once as
  * it stands (latest checkpoint + commit suffix) and once with its
  * checkpoints moved aside (full commit replay). Both loads must match
  * the live store on the history rows and, for every retained version,
  * its stats, physical schema, spec registry and snapshot rows.
  *
  * A version followed by a schema change is the one exception: no
  * commit records the schema a change replaced, so a full replay reads
  * such a version under the latest schema. There the property compares
  * what the log does record: the field ids and types of its schema,
  * and its stats' row count. */
object StoreReplayProps extends Properties("StoreReplay") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private val schema0 = ColumnMapping.withIds(StructType(Seq(
    StructField("k", LongType),
    StructField("p", StringType), // the partition source; never renamed
    StructField("v", LongType))))

  private val root = Files.createTempDirectory("graft_replayprops")

  private val Kinds = 9
  private val caseGen = Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0, Kinds - 1), Gen.long)))

  /** A full-arity row: `p` one of three values, every other column a
    * small nullable long. */
  private def row(rnd: Random, schema: StructType): InternalRow =
    new GenericInternalRow(Array.tabulate[Any](schema.length) { i =>
      if (i == 1) UTF8String.fromString(Seq("a", "b", "c")(rnd.nextInt(3)))
      else if (rnd.nextInt(6) == 0) null
      else Long.box(rnd.nextInt(100).toLong)
    })

  private def rows(rnd: Random, schema: StructType, n: Int) =
    Vector.fill(n)(row(rnd, schema))

  /** A stable copy of `r` at `schema`'s arity (historical heap rows
    * stop at a prefix; the rest reads NULL). */
  private def values(r: InternalRow, schema: StructType): Vector[Any] =
    Vector.tabulate(schema.length) { i =>
      if (i >= r.numFields || r.isNullAt(i)) null
      else r.get(i, schema(i).dataType) match {
        case u: UTF8String => u.toString
        case x => x
      }
    }

  private def padded(r: InternalRow, schema: StructType): InternalRow =
    new GenericInternalRow(values(r, schema).map {
      case s: String => UTF8String.fromString(s)
      case x => x
    }.toArray)

  private def write(st: MemStore, log: CommitLog,
      rs: Seq[InternalRow]): Seq[FileRef] = {
    val w = new DataFileWriter(log.dataDir.toString, st.physSchema,
      st.partSpec, st.currentSpecId, "prop")
    rs.foreach(w.write)
    w.close()
  }

  private def commit(st: MemStore, log: CommitLog, rs: Seq[InternalRow],
      mode: Int): Unit = {
    val refs = write(st, log, rs)
    st.commitFiles(refs, MemWrite.foldStats(refs, st.physSchema), mode)
  }

  private def liveRows(st: MemStore, segs: Vector[LiveSeg]) =
    Snap(segs).iterator(st.physSchema).map(padded(_, st.physSchema)).toVector

  private def nameOf(f: FileSeg): String =
    java.nio.file.Paths.get(f.path).getFileName.toString

  private def step(st: MemStore, log: CommitLog, kind: Int,
      rnd: Random): Unit = {
    val phys = st.physSchema
    kind match {
      case 0 => commit(st, log, rows(rnd, phys, 1 + rnd.nextInt(8)),
        FileCommit.Append)
      case 1 => commit(st, log, rows(rnd, phys, rnd.nextInt(8)),
        FileCommit.Replace)
      case 2 =>
        val n = st.currentState()._1.count
        val pos = rnd.shuffle((0L until n).toVector).take(rnd.nextInt(4))
        val (dels, upds) = pos.splitAt(rnd.nextInt(pos.length + 1))
        st.applyRowDelta(dels, upds.map(p => (p, row(rnd, phys))),
          rows(rnd, phys, rnd.nextInt(3)))
      case 3 =>
        st.evolveSchema(phys.add(StructField(s"c${phys.length}", LongType,
          nullable = true, new MetadataBuilder()
            .putLong(ColumnMapping.IdKey, ColumnMapping.nextId(phys)).build())))
      case 4 =>
        val i = (0 +: (2 until phys.length))(rnd.nextInt(phys.length - 1))
        st.evolveSchema(StructType(phys.fields.updated(i,
          ColumnMapping.rename(phys(i), phys(i).name + "r"))))
      case 5 =>
        st.evolvePartitionSpec(
          if (st.partSpec.isEmpty) Seq(PIdentity("p")) else Nil)
      case 6 =>
        // dynamic partition overwrite; it needs a plane of tuple files
        // under the current spec, so first get one
        if (st.partSpec.isEmpty) st.evolvePartitionSpec(Seq(PIdentity("p")))
        val ok = st.currentState()._1.segs.forall(ls => ls.seg match {
          case f: FileSeg => f.partVals.isDefined &&
            f.specId == st.currentSpecId
          case _ => false
        })
        if (!ok) commit(st, log, liveRows(st, st.currentState()._1.segs),
          FileCommit.Rewrite)
        val add = write(st, log, rows(rnd, st.physSchema, 1 + rnd.nextInt(4)))
        val touched = add.flatMap(_.partVals).toSet
        val (snap, ver) = st.currentStateVersioned()
        st.overwriteFiles(snap.segs.map(_.seg).collect {
          case f: FileSeg if f.partVals.exists(touched) => nameOf(f)
        }.toSet, add, ver)
      case 7 =>
        val picked = st.currentState()._1.segs.filter(ls =>
          ls.seg.isInstanceOf[FileSeg] && rnd.nextBoolean())
        if (picked.nonEmpty)
          st.compactFiles(
            picked.map(ls => nameOf(ls.seg.asInstanceOf[FileSeg])).toSet,
            write(st, log, liveRows(st, picked)), st.currentVersion)
      case 8 =>
        val (lo, hi) = (st.oldestVersion, st.currentVersion)
        if (hi > lo) {
          try st.expireBefore(lo + 1 + rnd.nextInt(hi - lo))
          catch {
            // a retained commit pins the cut; expiring to the head never
            // leaves one above it
            case _: UnsupportedOperationException => st.expireBefore(hi)
          }
        }
    }
  }

  private def withoutCheckpoints[A](dir: Path)(body: => A): A = {
    val aside = Files.createTempDirectory(root, "aside")
    val s = Files.list(dir)
    val moved = try s.toArray(new Array[Path](_)).toSeq
      .filter(_.getFileName.toString.contains(".checkpoint"))
    finally s.close()
    moved.foreach(p => Files.move(p, aside.resolve(p.getFileName)))
    try body
    finally moved.foreach(p => Files.move(aside.resolve(p.getFileName), p))
  }

  /** Versions with a later schema change (see the class comment). */
  private def schemaChangedAfter(st: MemStore, v: Int): Boolean =
    st.deltasAfter(v).contains(VMarker)

  /** `s` with every column of `schema` present and no write-order flags.
    * A full replay seeds version 0's stats from the LATEST schema, so a
    * column added later can be an explicit entry there and absent live;
    * [[CommitStats.merge]] reads an absent column as all-NULL over the
    * stats' rows, and that is the entry filled in. Write-order flags are
    * a file fact (`CommitStatsFileProps` drops them too): a marker
    * replays its predecessor's stats, while live it keeps the copy it
    * took before an expiry re-derived that predecessor's. */
  private def filled(s: CommitStats, schema: StructType): CommitStats =
    CommitStats(s.count, (schema.fields.map(f => f.name ->
      ColStats(s.count, tracked = true, None, None, Some(0L))).toMap ++ s.cols)
      .view.mapValues(_.copy(sortedAsc = false, sortedDesc = false)).toMap)

  private def ids(s: StructType) =
    s.fields.toSeq.map(f => (ColumnMapping.fieldId(f), f.dataType))

  private def matches(live: MemStore, cold: MemStore,
      what: String): Boolean = {
    val phys = live.physSchema
    def rowsAt(s: MemStore, v: Int) =
      s.versionSnapshot(v).iterator(phys).map(values(_, phys)).toVector
    val bad = (live.oldestVersion to live.currentVersion).flatMap { v =>
      val sch = live.physSchemaAt(v)
      val (stats, schema) =
        if (schemaChangedAfter(live, v))
          (cold.statsAt(v).map(_.count) == live.statsAt(v).map(_.count),
            ids(cold.physSchemaAt(v)).startsWith(ids(sch)))
        else (cold.statsAt(v).map(filled(_, sch)) ==
          live.statsAt(v).map(filled(_, sch)), cold.physSchemaAt(v) == sch)
      Seq("stats" -> stats, "schema" -> schema,
        "specs" -> (cold.specsAt(v) == live.specsAt(v)),
        "rows" -> (rowsAt(cold, v) == rowsAt(live, v)))
        .collect { case (facet, false) => s"v$v $facet" }
    }
    // expiring only version 0 leaves a log that a full replay cannot
    // tell from an unexpired one, so the load still holds version 0
    val coldHist =
      if (live.oldestVersion == 1) cold.historyRows.filter(_._1 >= 1)
      else cold.historyRows
    val ok = cold.physSchema == phys && coldHist == live.historyRows &&
      bad.isEmpty
    if (!ok) println(s"$what differs from live: history " +
      s"${cold.historyRows} vs ${live.historyRows}, $bad")
    ok
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray(new Array[Path](_))
      .foreach(deleteTree)
    Files.delete(p)
  }

  property("cold loads match the live store after every landing") =
    forAll(caseGen) { ops =>
      val dir = root.resolve(java.util.UUID.randomUUID().toString)
      val log = CommitLog.create(dir, schema0, MemStore.nowMicros())
      val st = new MemStore(schema0, Some(log), log.createdMicros)
      try ops.forall { case (kind, seed) =>
        step(st, log, kind, new Random(seed))
        matches(st, MemStore.replayFrom(CommitLog.open(dir)),
          s"after kind $kind: checkpoint load") &&
          withoutCheckpoints(dir)(matches(st,
            MemStore.replayFrom(CommitLog.open(dir)),
            s"after kind $kind: full replay"))
      } finally deleteTree(dir)
    }
}
