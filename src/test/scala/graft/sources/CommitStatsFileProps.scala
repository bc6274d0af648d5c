package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed

/** The file-plane twin of [[CommitStatsProps]]: a durable store whose
  * snapshot is parquet `FileSeg`s carrying random dels and patches plus
  * a `MemSeg` insert tail, sometimes with a column added after the
  * files were written (files read it as NULL, older heap rows stop at
  * the historical arity). After every random delta committed through
  * `MemStore.applyRowDelta`, the healed stats must equal
  * `CommitStats.of` over the new snapshot's live rows. */
object CommitStatsFileProps extends Properties("CommitStatsFile") {

  private val narrow = StructType(Seq(
    StructField("k", LongType),
    StructField("s", StringType),
    StructField("d", DoubleType))) // untracked min/max type
  private val wide = narrow.add(StructField("late", LongType))

  private val root = Files.createTempDirectory("graft_statsfile")

  /** A row at `arity` 3 or 4: nullable long, short string, double and
    * (arity 4) a nullable long. */
  private def rowGen(arity: Int): Gen[InternalRow] = for {
    k <- Gen.option(Gen.choose(-50L, 50L))
    s <- Gen.option(Gen.oneOf("a", "bb", "ccc", "zz"))
    d <- Gen.option(Gen.choose(-5.0, 5.0))
    late <- Gen.option(Gen.choose(0L, 9L))
  } yield {
    val vals = Array[Any](k.map(Long.box).orNull,
      s.map(UTF8String.fromString).orNull, d.map(Double.box).orNull,
      late.map(Long.box).orNull)
    new GenericInternalRow(vals.take(arity))
  }

  /** Deletes, updates and inserts over a snapshot of `n` live rows;
    * new rows take the current arity, or 3 a quarter of the time. */
  private def deltaGen(n: Long, arity: Int): Gen[(Vector[Long],
      Vector[(Long, InternalRow)], Vector[InternalRow])] = {
    val row = Gen.frequency(3 -> rowGen(arity), 1 -> rowGen(3))
    for {
      positions <- Gen.someOf(0L until n)
      split <- Gen.choose(0, positions.length)
      updRows <- Gen.listOfN(positions.length - split, row)
      inserts <- Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, row))
    } yield (positions.toVector.take(split),
      positions.toVector.drop(split).zip(updRows), inserts.toVector)
  }

  private val caseGen = for {
    before <- Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 12).flatMap(Gen.listOfN(_, rowGen(3)))))
    evolve <- Gen.oneOf(true, false)
    after <- Gen.choose(0, 2).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 12).flatMap(Gen.listOfN(_, rowGen(4)))))
    seeds <- Gen.listOfN(3, Gen.long)
  } yield (before, evolve, after, seeds)

  private def writeFile(log: CommitLog, schema: StructType,
      rows: Seq[InternalRow]): FileRef = {
    val name = log.newDataFileName("prop")
    val w = ParquetRowIO.writer(log.dataFilePath(name), schema)
    val acc = new CommitStats.Acc(schema)
    rows.foreach { r => w.write(r); acc.add(r) }
    FileRef(name, w.close(), Some(acc.result))
  }

  private def commit(st: MemStore, log: CommitLog,
      files: Seq[Seq[InternalRow]]): Unit =
    if (files.nonEmpty) {
      val refs = files.map(writeFile(log, st.physSchema, _))
      st.commitFiles(refs, refs.flatMap(_.stats).reduceLeft(CommitStats.merge),
        FileCommit.Append)
    }

  /** Write-order flags are a FILE fact; compare everything else. */
  private def noOrder(s: CommitStats): CommitStats = CommitStats(s.count,
    s.cols.view.mapValues(_.copy(sortedAsc = false, sortedDesc = false)).toMap)

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray(new Array[Path](_))
      .foreach(deleteTree)
    Files.delete(p)
  }

  property("applyRowDelta heals to a full rescan over file segments") =
    forAll(caseGen) { case (before, evolve, after, seeds) =>
      val dir = root.resolve(java.util.UUID.randomUUID().toString)
      val log = CommitLog.create(dir, narrow, MemStore.nowMicros())
      val st = new MemStore(narrow, Some(log))
      try {
        commit(st, log, before)
        if (evolve) {
          st.evolveSchema(wide)
          commit(st, log, after)
        }
        val arity = st.physSchema.length
        seeds.forall { seed =>
          val (snap0, _) = st.currentState()
          val (dels, upds, ins) = deltaGen(snap0.count, arity)
            .pureApply(Gen.Parameters.default, Seed(seed))
          st.applyRowDelta(dels, upds, ins)
          val (snap, healed) = st.currentState()
          val rescanned = CommitStats.of(snap.iterator(st.physSchema),
            st.physSchema)
          val ok = healed.map(noOrder).contains(noOrder(rescanned))
          if (!ok) println(s"healed=$healed\nrescan=$rescanned")
          ok
        }
      } finally deleteTree(dir)
    }
}
